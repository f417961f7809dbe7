package graft.fixtures

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

/** The one owner of every value the program builds once and reuses: the
  * post-ingest "tables" a deployment materializes once and every panel
  * reads, the derived frames and trained artifacts built on them, and the
  * scratch directories of write-and-read-back entries.
  *
  * One map, one build discipline. Each key gets its own slot; the first
  * caller builds under the slot's lock, racing callers of the same key
  * wait for that build, so a key is built once per JVM. The build runs
  * OUTSIDE the map's lock, so it may read other keys (a derived frame
  * reading `documents`, a replay reading `ticks`): a build nested in
  * `ConcurrentHashMap.computeIfAbsent` on the same map throws "Recursive
  * update" whenever the two keys share a hash bin, which depends on the
  * applicationId inside the key, i.e. nondeterministically per JVM. A
  * build that throws records nothing; the next call builds again.
  *
  * Two lifetimes, fixed per key by its first caller:
  *
  *   - `Session`: the `Fixtures.memo` base tables, the `Fixtures.derived`
  *     frames and `Fixtures.securities`; dropped by
  *     [[Fixtures.clearDerivedCache]].
  *   - `Application`: the BPE merge table and every [[scratchDir]] /
  *     [[scratch]] directory, including the seven filled once (the a01,
  *     a19 and evt_sessions_stream replays, the three e2e ingests, the CC
  *     pair stream); kept until the JVM exits, which deletes the dirs.
  *
  * Application entries are deterministic driver artifacts or on-disk
  * stores, not engine storage; a fresh JVM rebuilds all of them from the
  * parquet inputs. Keys carry the application id and the input dir so one
  * input's value is never served to another, and a namespace prefix
  * (`table#`, `derived#`, `securities#`, `bpe#`, `scratch#`) so names of
  * different builders cannot collide.
  */
object SessionCache {

  sealed trait Lifetime
  case object Session extends Lifetime
  case object Application extends Lifetime

  private final class Slot(val lifetime: Lifetime) {
    @volatile var value: AnyRef = _
  }

  private val slots = new ConcurrentHashMap[String, Slot]()

  /** The value under `key`, built by `build` on first use. */
  def apply[T <: AnyRef](lifetime: Lifetime, key: String)(build: => T): T = {
    val slot = slots.computeIfAbsent(key, _ => new Slot(lifetime))
    var v = slot.value
    if (v == null) slot.synchronized {
      v = slot.value
      if (v == null) {
        v = build
        slot.value = v
      }
    }
    v.asInstanceOf[T]
  }

  /** A scratch directory per key, unique per JVM (`createTempDirectory`,
    * so concurrent applications never race on a shared /tmp path), kept
    * for the application and deleted at JVM exit. Entries rewriting it
    * with Overwrite are idempotent across reruns.
    */
  def scratchDir(key: String): String = scratch(key)(_ => ())

  /** A [[scratchDir]] filled ONCE by `fill`, for entries whose on-disk
    * product is built once per application (streaming replays, ingested
    * stores, materialized pair streams). A fill that throws deletes its
    * directory and records nothing, so a retry starts in a fresh, empty
    * one: a progressed checkpoint or partial sink output of the failed
    * attempt is never seen by the retry's new stream.
    */
  def scratch(key: String)(fill: String => Unit): String =
    apply(Application, "scratch#" + key) {
      val dir = Files.createTempDirectory("graft_scratch_").toString
      var filled = false
      try { fill(dir); filled = true }
      finally if (!filled) deleteRecursively(dir)
      dir
    }

  /** Drop every `Session` entry (the caller releases Spark's storage). */
  private[fixtures] def clearSession(): Unit =
    slots.values.removeIf(_.lifetime == Session)

  /** Recursive best-effort delete, deepest first. Never throws: one
    * racing file (other shutdown hooks may still be flushing) must not
    * abort the cleanup of the rest, nor mask a failed fill's exception.
    */
  private[graft] def deleteRecursively(path: String): Unit =
    try {
      val root: Path = Paths.get(path)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f =>
            try Files.deleteIfExists(f)
            catch { case _: java.io.IOException => () })
        finally walk.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    slots.forEach { (key, slot) =>
      val dir = slot.value
      if (key.startsWith("scratch#") && dir != null) deleteRecursively(dir.toString)
    }))
}
