package graft.queries

import org.apache.spark.sql.functions._

import graft.fixtures.Fixtures.documents
import graft.llm.{Multimodal, RawMedia}

/** Non-plain-text inputs: binary media columns decoded through the
  * codec seam of [[graft.llm.Multimodal]], HTML boilerplate extraction,
  * and JSON metadata parsing. Each entry's DuckDB twin sits next to its
  * builder.
  */
object MultimodalQueries {
  /** Multimodal: binary media column → typed mapPartitions decode (stub
    * codec, real plumbing — see [[graft.llm.Multimodal]]).
    */
  val imageMeta = QueryDef.sql(
    "mm_image_meta",
    s"${Multimodal.decodeMetaSql}\nORDER BY doc_id"
  ) { (spark, dir) =>
    import spark.implicits._
    // localCheckpoint before the sort: see audioMetaReal's note (the
    // range-sampling pass otherwise runs the decode twice)
    Multimodal.decodeMeta(
        Multimodal.attachMedia(documents(spark, dir)).as[RawMedia])
      .toDF().localCheckpoint().orderBy("doc_id")
  }

  /** Multimodal: audio metadata through the same codec-pluggable seam
    * (stub for the oracle; `javax.sound.sampled` parses real WAV bytes in
    * MultimodalSpec).
    */
  val audioMeta = QueryDef.sql(
    "mm_audio_meta",
    s"${Multimodal.audioMetaSql}\nORDER BY doc_id"
  ) { (spark, dir) =>
    import spark.implicits._
    Multimodal.decodeAudioMeta(
        Multimodal.attachMedia(documents(spark, dir)).as[RawMedia])
      .toDF().localCheckpoint().orderBy("doc_id")
  }

  /** Multimodal: resize to a bounded box through the codec seam (stub
    * arithmetic for the oracle; Java2D + ImageIO do the real scaling in
    * MultimodalSpec).
    */
  val imageResize = QueryDef.sql(
    "mm_image_resize",
    s"${Multimodal.resizeSql}\nORDER BY doc_id"
  ) { (spark, dir) =>
    import spark.implicits._
    Multimodal.resize(
        Multimodal.attachMedia(documents(spark, dir)).as[RawMedia])
      .toDF().localCheckpoint().orderBy("doc_id")
  }

  /** Multimodal with the REAL decoder in the registered, ORACLED path
    * (round 8, r7 verdict item 7): the media bytes are genuine PNG
    * containers rendered in-engine from md5 seeds, decoded back through
    * `javax.imageio` — the oracle predicts dims, components and the full
    * raster checksum from seed arithmetic, so a mis-parsing decoder (or
    * a lossy round-trip) hash-mismatches. See
    * [[graft.llm.Multimodal.imageMetaReal]].
    */
  val imageMetaReal = QueryDef.sql(
    "mm_image_meta_real",
    s"${Multimodal.imageMetaRealSql}\nORDER BY doc_id"
  ) { (spark, dir) =>
    import spark.implicits._
    // round 16: the rendered PNG container table is fixture synthesis
    // (production parquet holds real bytes) — memoized per (app, dir)
    // like trades/documents; the REAL ImageIO decode + raster checksum
    // stays per-rep: it is the operator. Checkpoint before the
    // presentation sort as before (range sampling would re-decode).
    val png = graft.fixtures.Fixtures.derived(spark, dir, "mm_png_bytes")(
      Multimodal.renderPngTable(
        Multimodal.attachMedia(documents(spark, dir)).as[RawMedia]).toDF())
    Multimodal.decodeImageSumStage(png.as[RawMedia])
      .toDF().localCheckpoint().orderBy("doc_id")
  }

  /** Real-WAV twin of [[imageMetaReal]]: genuine RIFF/WAVE containers
    * through `javax.sound.sampled`, header fields oracled from the seed.
    */
  val audioMetaReal = QueryDef.sql(
    "mm_audio_meta_real",
    s"${Multimodal.audioMetaRealSql}\nORDER BY doc_id"
  ) { (spark, dir) =>
    import spark.implicits._
    // localCheckpoint before the presentation sort (round 15, guide §1.1/
    // §7.2): a global ORDER BY range-partitions, and RangePartitioner's
    // boundary-sampling pass executes the ENTIRE map-side child once
    // before the real pass runs it again — a per-job timing
    // (OPTIMIZATION_r15.md) measured two equal ~1.45 s decode jobs per
    // rep (render + javax.sound parse over every row, twice).
    // Materializing the decoded rows once (tiny typed rows) makes the
    // sampling pass read blocks instead of re-decoding: 3.1 → ~1.7 s warm
    // at sf0.1.
    // Round 16: the WAV render (fixture synthesis — production parquet
    // holds real container bytes) splits off into a memoized post-ingest
    // table, the trades/documents discipline; the REAL javax.sound
    // header parse stays per-rep — it is the operator.
    val wav = graft.fixtures.Fixtures.derived(spark, dir, "mm_wav_bytes")(
      Multimodal.renderWavTable(
        Multimodal.attachMedia(documents(spark, dir)).as[RawMedia]).toDF())
    Multimodal.decodeWavMetaStage(wav.as[RawMedia])
      .toDF().localCheckpoint().orderBy("doc_id")
  }

  /** Multimodal: video-style frame sampling — the 1→N explode of a binary
    * container into typed per-frame rows (stub demuxer, real plumbing).
    */
  val frameSample = QueryDef.sql(
    "mm_frame_sample",
    s"${Multimodal.sampleFramesSql}\nORDER BY doc_id, frame_idx"
  ) { (spark, dir) =>
    import spark.implicits._
    Multimodal.sampleFrames(
        Multimodal.attachMedia(documents(spark, dir)).as[RawMedia])
      .toDF().localCheckpoint().orderBy("doc_id", "frame_idx")
  }

  // ---- HTML boilerplate extraction ----

  /** The deterministic markup derivation for [[htmlExtract]] — the
    * corpus ships plain text, so the entry wraps it in a realistic page
    * skeleton (head + script, nav, article, footer, inline <b> emphasis
    * on a hash-selected subset of words, one planted `&amp;` entity) the
    * same way in both engines: the multimodal stub-codec convention. The
    * EXTRACTION chain downstream is the real operator; HtmlExtractSpec
    * additionally drives it over hand-written non-derived HTML.
    */
  private val HtmlPrefix = "Q &amp; A: "

  /** Visible-text prefix [[HtmlPrefix]] decodes to. */
  private val HtmlPrefixDecoded = "Q & A: "

  /** HTML boilerplate removal (the trafilatura/jusText stage every web
    * crawl passes through before any text analysis): drop the head
    * (scripts, title), the nav and footer boilerplate blocks, strip the
    * remaining tags, decode entities, collapse whitespace. The ledger
    * emits raw-vs-extracted sizes, the boilerplate fraction, and a
    * `clean` flag asserting the extraction recovered exactly the planted
    * visible text — so a regression in any regex is a hash mismatch, not
    * a silent quality drift.
    *
    * 100 TB shape: one map-side projection — five regexp_replace passes
    * per document, no shuffle, no state (the ORDER BY is
    * presentation-only). Regex cost is linear in page bytes; on a real
    * crawl this runs in the ingest mapper right after charset decode.
    */
  val htmlExtract = QueryDef.sql(
    "llm_html_extract", {
      val bolded =
        "array_to_string(list_transform(string_split(text, ' '), " +
          "w -> CASE WHEN substr(md5(w), 1, 1) < '4' THEN '<b>' || w || '</b>' ELSE w END), ' ')"
      val html =
        s"""'<html><head><title>' || source || '</title>' ||
           |      '<script type="text/javascript">var n=' || CAST(n_chars AS VARCHAR) || ';</script></head>' ||
           |      '<body><nav><a href="/">home</a> <a href="/about">about</a></nav>' ||
           |      '<article><p>$HtmlPrefix' || $bolded || '</p></article>' ||
           |      '<footer>&copy; 2026 ' || source || '</footer></body></html>'""".stripMargin
      s"""WITH pages AS (SELECT doc_id, text,
         |    $html AS html
         |  FROM documents),
         |stripped AS (SELECT doc_id, text, html,
         |    trim(regexp_replace(replace(
         |      regexp_replace(
         |        regexp_replace(
         |          regexp_replace(
         |            regexp_replace(html, '<head>.*?</head>', ' ', 'g'),
         |          '<nav>.*?</nav>', ' ', 'g'),
         |        '<footer>.*?</footer>', ' ', 'g'),
         |      '<[^>]+>', ' ', 'g'),
         |    '&amp;', '&'), ' +', ' ', 'g')) AS extracted
         |  FROM pages)
         |SELECT doc_id,
         |  CAST(length(html) AS BIGINT) AS n_html_chars,
         |  CAST(length(extracted) AS BIGINT) AS n_text_chars,
         |  CAST(length(html) - length(extracted) AS DOUBLE) / length(html) AS boiler_frac,
         |  extracted = '$HtmlPrefixDecoded' || text AS clean
         |FROM stripped ORDER BY doc_id""".stripMargin
    }
  ) { (spark, dir) =>
    val pages = documents(spark, dir).withColumn("html", expr(
      s"""concat('<html><head><title>', source, '</title>',
         |  '<script type="text/javascript">var n=', CAST(n_chars AS STRING), ';</script></head>',
         |  '<body><nav><a href="/">home</a> <a href="/about">about</a></nav>',
         |  '<article><p>$HtmlPrefix',
         |  array_join(transform(split(text, ' '),
         |    w -> CASE WHEN substr(md5(w), 1, 1) < '4' THEN concat('<b>', w, '</b>') ELSE w END), ' '),
         |  '</p></article>',
         |  '<footer>&copy; 2026 ', source, '</footer></body></html>')""".stripMargin))
    htmlExtractText(pages)
      .select(col("doc_id"),
        length(col("html")).cast("long").as("n_html_chars"),
        length(col("extracted")).cast("long").as("n_text_chars"),
        (length(col("html")) - length(col("extracted"))).cast("double")
          ./(length(col("html"))).as("boiler_frac"),
        (col("extracted") === concat(lit(HtmlPrefixDecoded), col("text"))).as("clean"))
      .orderBy("doc_id")
  }

  /** The extraction chain itself over any table with an `html` column —
    * adds `extracted`. Exposed for HtmlExtractSpec's hand-written pages.
    */
  def htmlExtractText(pages: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pages.withColumn("extracted", expr(
      """trim(regexp_replace(replace(
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(html, '<head>.*?</head>', ' '),
        |      '<nav>.*?</nav>', ' '),
        |    '<footer>.*?</footer>', ' '),
        |  '<[^>]+>', ' '),
        |'&amp;', '&'), ' +', ' '))""".stripMargin))

  // ---- semi-structured metadata extraction (JSON edge) ----

  /** JSON metadata extraction — the semi-structured shape every web-crawl
    * pipeline starts from (WARC/CC records carry their provenance as a
    * JSON header next to the payload). The derivation wraps each doc's
    * METADATA columns in a JSON envelope the same way in both engines
    * (identifier-safe values only — the multimodal stub-codec
    * convention); the OPERATOR under test is the parse side: Spark's
    * schema-full `from_json` (codegen'd, map-side, linear — no UDF)
    * must recover every field bit-for-bit where the oracle uses DuckDB's
    * json_extract. A parser that mis-handles field order, numeric
    * widths or missing-field nulls (every 7th doc drops `source`, so
    * the null path is genuinely exercised) hash-mismatches.
    */
  val jsonMetadata = QueryDef.sql(
    "llm_json_metadata",
    """SELECT doc_id,
      |  json_extract_string(js, '$.lang') AS j_lang,
      |  json_extract_string(js, '$.source') AS j_source,
      |  CAST(json_extract(js, '$.n') AS BIGINT) AS j_n
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN '{"id":' || CAST(doc_id AS VARCHAR) || ',"lang":"' || lang || '","n":' || CAST(n_chars AS VARCHAR) || '}'
      |      ELSE '{"id":' || CAST(doc_id AS VARCHAR) || ',"lang":"' || lang || '","source":"' || source || '","n":' || CAST(n_chars AS VARCHAR) || '}'
      |    END AS js
      |  FROM documents) d
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    documents(spark, dir)
      .selectExpr("doc_id",
        """CASE WHEN doc_id % 7 = 0
          |  THEN concat('{"id":', CAST(doc_id AS STRING), ',"lang":"', lang, '","n":', CAST(n_chars AS STRING), '}')
          |  ELSE concat('{"id":', CAST(doc_id AS STRING), ',"lang":"', lang, '","source":"', source, '","n":', CAST(n_chars AS STRING), '}')
          |END AS js""".stripMargin.replace("\n", " "))
      .select(col("doc_id"),
        from_json(col("js"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "id BIGINT, lang STRING, source STRING, n BIGINT")).as("j"))
      .select(col("doc_id"), col("j.lang").as("j_lang"),
        col("j.source").as("j_source"), col("j.n").as("j_n"))
      .orderBy("doc_id")
  }

  val all: Seq[QueryDef] = Seq(
    imageMeta, audioMeta, imageResize, frameSample, imageMetaReal, audioMetaReal, htmlExtract,
    jsonMetadata)
}
