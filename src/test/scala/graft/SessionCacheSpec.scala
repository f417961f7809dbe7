package graft

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.fixtures.{Fixtures, SessionCache}
import graft.fixtures.SessionCache.{Application, Session}

/** Pins the one cache owner ([[graft.fixtures.SessionCache]]): nested
  * builds, once-per-key builds under a race, nothing recorded by a
  * throwing build (and a fresh scratch dir for the retry), and the two
  * lifetimes under [[graft.fixtures.Fixtures.clearDerivedCache]]. The
  * real-entry twin (a01 replays once across a clear) is in ScaleShapeSpec.
  */
class SessionCacheSpec extends SparkSuite {

  private def fresh(name: String) = s"spec|$name|${UUID.randomUUID()}"

  test("a build of key A that reads key B works, even when A and B share a hash bin") {
    // "Aa" and "BB" have equal String hashCodes, so the two keys land in
    // one bin: a build nested in computeIfAbsent on the same map throws
    // "Recursive update" here (the round-7 failure)
    val base = fresh("nested")
    val (ka, kb) = (base + "Aa", base + "BB")
    assert(ka.hashCode == kb.hashCode)
    val builds = new AtomicInteger()
    val a = SessionCache(Session, ka) {
      builds.incrementAndGet()
      SessionCache(Session, kb) { builds.incrementAndGet(); "b" } + "a"
    }
    assert(a == "ba")
    assert(SessionCache(Session, kb)("rebuilt") == "b")
    assert(SessionCache(Session, ka)("rebuilt") == "ba")
    assert(builds.get == 2)
  }

  test("8 threads asking for one key run its build exactly once") {
    val key = fresh("race")
    val builds = new AtomicInteger()
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[AnyRef] {
        def call(): AnyRef = {
          gate.await()
          SessionCache(Session, key) {
            builds.incrementAndGet()
            Thread.sleep(100) // hold the build open while the others arrive
            new Object
          }
        }
      }))
      gate.countDown()
      val values = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("a throwing build records nothing; a scratch retry sees a fresh, empty dir") {
    val key = fresh("throw")
    intercept[IllegalStateException](
      SessionCache(Application, key)(throw new IllegalStateException("boom")))
    assert(SessionCache(Application, key)("second") == "second")

    val sk = fresh("scratch")
    var failedDir: String = null
    intercept[IllegalStateException](SessionCache.scratch(sk) { dir =>
      failedDir = dir
      Files.createDirectories(Paths.get(dir, "ck", "offsets"))
      Files.write(Paths.get(dir, "ck", "offsets", "0"), Array[Byte](1))
      throw new IllegalStateException("fault after a committed micro-batch")
    })
    assert(!Files.exists(Paths.get(failedDir)), "the failed attempt's dir must be gone")
    val fills = new AtomicInteger()
    val dir = SessionCache.scratch(sk) { dir =>
      fills.incrementAndGet()
      val listing = Files.list(Paths.get(dir))
      try assert(listing.count() == 0, s"retry dir $dir is not empty")
      finally listing.close()
    }
    assert(dir != failedDir)
    assert(SessionCache.scratch(sk)(_ => fills.incrementAndGet()) == dir)
    assert(fills.get == 1)
  }

  test("clearDerivedCache drops session entries and keeps application entries") {
    val (ks, ka, kd) = (fresh("session"), fresh("app"), fresh("dir"))
    val (sessionBuilds, appBuilds) = (new AtomicInteger(), new AtomicInteger())
    def session() = SessionCache(Session, ks)(Integer.valueOf(sessionBuilds.incrementAndGet()))
    def app() = SessionCache(Application, ka)(Integer.valueOf(appBuilds.incrementAndGet()))
    val dir = SessionCache.scratchDir(kd)
    assert(session() == 1 && app() == 1)
    Fixtures.clearDerivedCache(spark)
    assert(session() == 2, "a session entry must be rebuilt after the clear")
    assert(app() == 1, "an application entry must survive the clear")
    assert(SessionCache.scratchDir(kd) == dir && Files.isDirectory(Paths.get(dir)))
  }
}
