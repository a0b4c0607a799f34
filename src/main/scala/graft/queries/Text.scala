package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis extension surface (SURVEY.md §2.11 X1–X3/X5 + north-star
  * text ops): tokenization, term frequency, token counting, quality scoring,
  * language-ID heuristic, content fingerprinting.
  *
  * Everything is built from codegen'd Spark built-ins + higher-order
  * functions — no UDFs — so the whole pipeline stays inside WholeStageCodegen
  * and scales linearly with document count (narrow, per-row; the only shuffle
  * is the final groupBy/orderBy).
  *
  * Scoring formulas are deliberately rational arithmetic only (int counts +
  * one double division) — no exp/log — so the DuckDB oracle is bit-exact.
  */
object Text {

  private val stopwords = Seq("the", "a", "of", "and")
  private def inList(xs: Seq[String]): String =
    xs.map(w => s"'$w'").mkString("(", ",", ")")

  val defs: Seq[QueryDef] = Seq(

    // ---- X1+X3: tokenize + global term frequency, top 50 -------------------
    QueryDef(
      "x3_term_freq",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select(explode(split($"text", " ")).as("token"))
          .filter(length($"token") > 0)
          .groupBy($"token")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"token")
          .limit(50)
      },
      Some("""SELECT token, COUNT(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE length(token) > 0
        GROUP BY token ORDER BY n DESC, token LIMIT 50""")),

    // ---- Token counting: whitespace tokens + regex subword estimate --------
    // n_regex_tokens was named n_bpe_tokens through round 13 — renamed
    // when REAL BPE landed (x_bpe_tokens): this column is the cheap
    // regex segmentation estimate ([a-z]+ runs, digits, punctuation),
    // useful as a pre-pass heuristic, NOT a merge-table encoding.
    QueryDef(
      "x_token_count",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select(
            $"doc_id",
            size(split($"text", " ")).as("n_ws_tokens"),
            expr("size(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]', 0))")
              .as("n_regex_tokens"),
            length($"text").as("len"),
            (length(regexp_replace($"text", " ", "")).cast("double") /
              size(split($"text", " "))).as("avg_token_len"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS INTEGER) AS n_regex_tokens,
        CAST(length(text) AS INTEGER) AS len,
        CAST(length(replace(text, ' ', '')) AS DOUBLE)
          / len(string_split(text, ' ')) AS avg_token_len
        FROM documents ORDER BY doc_id""")),

    // ---- Context chunking: overlapping token windows (RAG / training-
    // context prep). W=32-token windows every S=24 tokens (8-token overlap);
    // the last window per doc is short (n - start tokens) rather than
    // padded, and every token lands in ≥1 chunk. Pure per-row array ops —
    // embarrassingly parallel, no shuffle at all until the output sort;
    // at 100 TB this is a map-only pass whose output is ~n/S rows per doc.
    // Spark slice(arr, start+1, W) and DuckDB arr[start+1 : start+W] both
    // clamp at the array end, so the engines agree on the short tail.
    QueryDef(
      "x_chunk_windows",
      (s, d) => {
        import s.implicits._
        val W = 32
        val S = 24
        // NULL text would make sequence(0, size(null)-1) THROW on Spark
        // while DuckDB's generate_series(0, NULL) silently emits nothing —
        // filter on both engines so the contract stays cross-engine
        Tables.documents(s, d)
          .filter($"text".isNotNull)
          .select($"doc_id", split($"text", " ").as("toks"))
          .select($"doc_id", $"toks", size($"toks").as("n"))
          .select($"doc_id", $"toks", $"n",
            posexplode(sequence(lit(0), $"n" - 1, lit(S)))
              .as(Seq("chunk_idx", "start_tok")))
          .select(
            $"doc_id", $"chunk_idx", $"start_tok",
            least(lit(W), $"n" - $"start_tok").as("n_tok"),
            array_join(slice($"toks", $"start_tok" + 1, lit(W)), " ")
              .as("chunk"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some("""SELECT doc_id,
        CAST(start_tok // 24 AS INTEGER) AS chunk_idx,
        CAST(start_tok AS INTEGER) AS start_tok,
        CAST(least(32, n - start_tok) AS INTEGER) AS n_tok,
        array_to_string(toks[start_tok + 1 : start_tok + 32], ' ') AS chunk
        FROM (
          SELECT doc_id, toks, n,
            unnest(generate_series(0, n - 1, 24)) AS start_tok
          FROM (SELECT doc_id, string_split(text, ' ') AS toks,
                  len(string_split(text, ' ')) AS n FROM documents
                WHERE text IS NOT NULL))
        ORDER BY doc_id, chunk_idx""")),

    // ---- Quality scoring: stopword ratio + length score (rational only) ----
    QueryDef(
      "x_quality_score",
      (s, d) => {
        import s.implicits._
        val toks = split($"text", " ")
        val stopCount =
          expr(s"size(filter(split(text, ' '), t -> t IN ${inList(stopwords)}))")
        Tables.documents(s, d)
          .select(
            $"doc_id", $"lang",
            size(toks).as("n_tokens"),
            stopCount.as("n_stop"),
            (stopCount.cast("double") / size(toks)).as("stop_ratio"),
            ((stopCount.cast("double") / size(toks)) * 0.5 +
              (least(size(toks), lit(100)).cast("double") / 100.0) * 0.5)
              .as("quality"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopwords)})) AS INTEGER) AS n_stop,
        CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopwords)})) AS DOUBLE)
          / len(string_split(text, ' ')) AS stop_ratio,
        CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopwords)})) AS DOUBLE)
          / len(string_split(text, ' ')) * 0.5
          + CAST(least(len(string_split(text, ' ')), 100) AS DOUBLE) / 100.0 * 0.5 AS quality
        FROM documents ORDER BY doc_id""")),

    // ---- Language-ID heuristic: marker-token voting ------------------------
    // The testdata corpus is synthetic (same vocabulary in all langs) so the
    // guess is mostly 'en' — the *operator* (deterministic marker scoring with
    // fixed precedence) is what's under test.
    QueryDef(
      "x_lang_id",
      (s, d) => {
        import s.implicits._
        def score(ws: Seq[String]) =
          expr(s"size(filter(split(text, ' '), t -> t IN ${inList(ws)}))")
        val en = score(Seq("the", "a", "of"))
        val de = score(Seq("der", "die", "das"))
        val fr = score(Seq("le", "la", "et"))
        val es = score(Seq("el", "los", "y"))
        Tables.documents(s, d)
          .select($"doc_id", $"lang",
            en.as("s_en"), de.as("s_de"), fr.as("s_fr"), es.as("s_es"),
            when(en >= de && en >= fr && en >= es, "en")
              .when(de >= fr && de >= es, "de")
              .when(fr >= es, "fr")
              .otherwise("es").as("lang_guess"))
          .orderBy($"doc_id")
      },
      Some {
        def sc(ws: Seq[String]) =
          s"len(list_filter(string_split(text, ' '), t -> t IN ${inList(ws)}))"
        val (en, de, fr, es) = (sc(Seq("the", "a", "of")), sc(Seq("der", "die", "das")),
          sc(Seq("le", "la", "et")), sc(Seq("el", "los", "y")))
        s"""SELECT doc_id, lang,
          CAST($en AS INTEGER) AS s_en, CAST($de AS INTEGER) AS s_de,
          CAST($fr AS INTEGER) AS s_fr, CAST($es AS INTEGER) AS s_es,
          CASE WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
               WHEN $de >= $fr AND $de >= $es THEN 'de'
               WHEN $fr >= $es THEN 'fr'
               ELSE 'es' END AS lang_guess
          FROM documents ORDER BY doc_id"""
      }),

    // ---- Winnowing fingerprints (rolling-window k-gram selection) ----------
    // The standard local document-fingerprinting algorithm (Schleimer,
    // Wilkerson, Aiken, SIGMOD'03 "Winnowing: Local Algorithms for Document
    // Fingerprinting"): hash every positional 3-gram (NOT distinct — window
    // positions matter), then keep the minimum hash of each w=4 window of
    // consecutive grams; the distinct selected hashes are the document's
    // fingerprint set. Guarantees any shared run of >= w+k-1 tokens between
    // two documents shares a fingerprint — the detection primitive for
    // plagiarism/boilerplate mining at corpus scale. All narrow per-row
    // HOFs; the gram hashes are the md5 60-bit family, so the oracle
    // re-derives every fingerprint. Shorter-than-window docs contribute
    // their single overall minimum (slice clamps on both engines;
    // greatest(..., 1) avoids Spark's DESCENDING sequence(1, 0)).
    // The `h` projection is a separate select so the window lambda reads a
    // bound attribute, not the inlined md5 subtree (interpreted-HOF
    // re-evaluation trap).
    QueryDef(
      "x_winnow_fingerprints",
      (s, d) => {
        import s.implicits._
        val w = 4
        val grams = Tables.documents(s, d)
          .withColumn("toks", split($"text", " "))
          .filter($"doc_id" < 150 && size($"toks") >= 3)
          .select($"doc_id", transform(
            sequence(lit(1), greatest(size($"toks") - 2, lit(1))),
            i => concat_ws(" ", element_at($"toks", i),
              element_at($"toks", i + 1), element_at($"toks", i + 2))).as("g"))
        val hashes = grams.select($"doc_id",
          transform($"g", x =>
            shiftrightunsigned(graft.functions.Md5Hash64.md5_le64(x), 4)).as("h"))
        hashes
          .select($"doc_id", explode(array_sort(array_distinct(
            transform(sequence(lit(1), greatest(size($"h") - w + 1, lit(1))),
              j => array_min(slice($"h", j, lit(w))))))).as("fp"))
          .orderBy($"doc_id", $"fp")
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
          WHERE doc_id < 150 AND len(string_split(text, ' ')) >= 3),
        grams AS (
          SELECT doc_id, list_transform(
            generate_series(1, greatest(len(t) - 2, 1)),
            i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS g
          FROM toks),
        hs AS (
          SELECT doc_id, list_transform(g,
            x -> CAST(md5_number_upper(x) >> 4 AS BIGINT)) AS h
          FROM grams)
        SELECT doc_id, unnest(list_sort(list_distinct(list_transform(
            generate_series(1, greatest(len(h) - 4 + 1, 1)),
            j -> list_aggregate(h[j:j+3], 'min'))))) AS fp
        FROM hs ORDER BY doc_id, fp""")),

    // ---- Document fingerprinting: md5 of whitespace-normalized content -----
    QueryDef(
      "x_fingerprint",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .filter($"doc_id" < 200)
          .select($"doc_id",
            md5(regexp_replace(lower($"text"), "\\s+", " ")).as("fingerprint"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
        FROM documents WHERE doc_id < 200 ORDER BY doc_id""")),

    // ---- Multimodal plumbing: binary column -> extracted metadata ----------
    // HASH-EXACT since r8. Three arms through extractMeta's dispatch:
    // jpeg/mp4 payloads are synthesized shells with id-derived parameters
    // and REAL header parsing recovers them (JFIF SOF marker scan / ISO-BMFF
    // box walk — MediaCodecs; dims and closed-form shell sizes re-derive in
    // SQL), and 'blob' rows exercise the unknown-kind stub whose formula
    // (be32 windows of the UTF-8 bytes, mod-reduced) the oracle recomputes
    // from ascii() — documents are pure ASCII, so byte k == char k.
    // Checksum is dropped from the projection (a mod-2^64 byte fold has no
    // DuckDB twin); determinism of the full MediaMeta row is spec-pinned in
    // ExtSpec instead.
    QueryDef(
      "m_media_meta",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).filter($"doc_id" < 100)
          .select($"doc_id", $"text").as[(Long, String)]
          .map { case (id, text) =>
            (id % 3) match {
              case 0 => graft.ext.Multimodal.MediaRow(id, "jpeg",
                graft.ext.MediaCodecs.writeJpegShell(
                  (16 + id % 1000).toInt, (9 + id % 600).toInt))
              case 1 => graft.ext.Multimodal.MediaRow(id, "mp4",
                graft.ext.MediaCodecs.writeMp4Shell(
                  (160 + 16 * (id % 100)).toInt, (90 + 16 * (id % 50)).toInt,
                  (600 + (id % 10) * 100).toInt, id * 37 + 1000))
              case _ => graft.ext.Multimodal.MediaRow(id, "blob",
                text.getBytes("UTF-8"))
            }
          }
        graft.ext.Multimodal.extractMeta(media).toDF()
          .select($"media_id", $"kind", $"n_bytes",
            $"width", $"height", $"sample_rate")
          .orderBy($"media_id")
      },
      Some("""SELECT doc_id AS media_id,
          CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'mp4'
               ELSE 'blob' END AS kind,
          CAST(CASE doc_id % 3 WHEN 0 THEN 41 WHEN 1 THEN 236
               ELSE octet_length(encode(text)) END AS INTEGER) AS n_bytes,
          CAST(CASE doc_id % 3
               WHEN 0 THEN 16 + doc_id % 1000
               WHEN 1 THEN 160 + 16 * (doc_id % 100)
               ELSE (ascii(substr(text, 3, 1)) % 32) * 256
                    + ascii(substr(text, 4, 1))
               END AS INTEGER) AS width,
          CAST(CASE doc_id % 3
               WHEN 0 THEN 9 + doc_id % 600
               WHEN 1 THEN 90 + 16 * (doc_id % 50)
               ELSE (ascii(substr(text, 7, 1)) % 32) * 256
                    + ascii(substr(text, 8, 1))
               END AS INTEGER) AS height,
          CAST(CASE doc_id % 3
               WHEN 0 THEN 0
               WHEN 1 THEN 600 + (doc_id % 10) * 100
               ELSE (ascii(substr(text, 9, 1)) * 16777216
                     + ascii(substr(text, 10, 1)) * 65536
                     + ascii(substr(text, 11, 1)) * 256
                     + ascii(substr(text, 12, 1))) % 192000
               END AS INTEGER) AS sample_rate
        FROM documents WHERE doc_id < 100 ORDER BY media_id""")),

    // ---- Multimodal metadata through the REAL codecs (oracle-checked) ------
    // Synthesize wav/bmp/png payloads from id-derived parameters, decode
    // through extractMeta's per-kind dispatch (real RIFF/BMP/PNG parsers —
    // PNG round-trips zlib via java.util.zip), and emit the recovered
    // container fields. The oracle recomputes every column in SQL straight
    // from event_id (wav/bmp sizes are closed-form; png size is
    // deflate-dependent so png rows carry the recovered DIMENSIONS only,
    // with n_bytes normalized to -1). A hash match proves each encoder →
    // decoder pair recovered exactly what was encoded. The stub kinds
    // (jpeg/mp4) stay in the rows-only `m_media_meta`.
    QueryDef(
      "m_media_meta_real",
      (s, d) => {
        import s.implicits._
        val media = Tables.events(s, d).filter($"event_id" < 60)
          .select($"event_id").as[Long]
          .map { id =>
            val m = graft.ext.MediaCodecs
            (id % 3) match {
              case 0 =>
                val sr = 8000 + (id % 8).toInt * 1000
                val n = 100 + (id % 50).toInt
                val samples = Array.tabulate(n)(i =>
                  (((i * 2654435761L) % 65536L) - 32768L).toShort)
                graft.ext.Multimodal.MediaRow(id, "wav", m.writeWavPcm16(sr, samples))
              case 1 =>
                val w = 4 + (id % 13).toInt
                val h = 3 + (id % 7).toInt
                graft.ext.Multimodal.MediaRow(id, "bmp",
                  m.writeBmp24(w, h, (x, y) => ((x * 7 + y) % 256, (x + y * 5) % 256, (x * y) % 256)))
              case _ =>
                val w = 2 + (id % 11).toInt
                val h = 2 + (id % 5).toInt
                graft.ext.Multimodal.MediaRow(id, "png",
                  m.writePngRgb(w, h,
                    (x, y) => ((x * 11 + y) % 256, (x * 3 + y * 7) % 256, (x + y) % 256),
                    filterOfRow = y => y % 5)) // exercise every unfilter path
            }
          }
        graft.ext.Multimodal.extractMeta(media).toDF()
          .select($"media_id", $"kind",
            when($"kind" === "png", -1).otherwise($"n_bytes").as("n_bytes"),
            $"width", $"height", $"sample_rate")
          .orderBy($"media_id")
      },
      Some("""SELECT event_id AS media_id,
          CASE event_id % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'bmp' ELSE 'png' END AS kind,
          CAST(CASE event_id % 3
            WHEN 0 THEN 44 + 2 * (100 + event_id % 50)
            WHEN 1 THEN 54 + (((4 + event_id % 13) * 3 + 3) // 4) * 4 * (3 + event_id % 7)
            ELSE -1 END AS INTEGER) AS n_bytes,
          CAST(CASE event_id % 3
            WHEN 0 THEN 0 WHEN 1 THEN 4 + event_id % 13
            ELSE 2 + event_id % 11 END AS INTEGER) AS width,
          CAST(CASE event_id % 3
            WHEN 0 THEN 0 WHEN 1 THEN 3 + event_id % 7
            ELSE 2 + event_id % 5 END AS INTEGER) AS height,
          CAST(CASE WHEN event_id % 3 = 0
            THEN 8000 + (event_id % 8) * 1000 ELSE 0 END AS INTEGER) AS sample_rate
        FROM events WHERE event_id < 60 ORDER BY media_id""")),

    // ---- Multimodal metadata, oracle-checkable subset ----------------------
    // The decode stub isn't SQL-expressible, but the size/provenance columns
    // the media pipeline carries ARE — DuckDB checks the typed-metadata
    // plumbing end to end via octet_length over the same payload.
    QueryDef(
      "m_media_bytes",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).filter($"doc_id" < 100)
          .select($"doc_id".as("media_id"), lit("text").as("kind"),
            $"text".cast("binary").as("bytes"))
          .as[graft.ext.Multimodal.MediaRow]
        graft.ext.Multimodal.extractMeta(media).toDF()
          .select($"media_id", $"kind", $"n_bytes")
          .orderBy($"media_id")
      },
      Some("""SELECT doc_id AS media_id, 'text' AS kind,
        CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
        FROM documents WHERE doc_id < 100 ORDER BY media_id""")),

    // ---- Multimodal REAL-codec round-trip (oracle-checked) -----------------
    // Synthesize a PCM WAV per event id (parameters derived from the id),
    // DECODE the actual bytes distributed (MediaCodecs.parseWav — real RIFF
    // parsing, no stub), and emit the recovered container fields. The
    // oracle recomputes the synthesis parameters directly from event_id —
    // so a hash match proves the encoder→decoder round-trip recovered
    // exactly what was encoded. Bytes never shuffle (synth + decode are one
    // narrow mapPartitions chain).
    QueryDef(
      "m_wav_roundtrip",
      (s, d) => {
        import s.implicits._
        val media = Tables.events(s, d).filter($"event_id" < 50)
          .select($"event_id").as[Long]
          .map { id =>
            val sr = 8000 + (id % 8).toInt * 1000
            val n = 400 + (id % 100).toInt
            val freq = 100.0 + (id % 20) * 10.0
            val samples = Array.tabulate(n)(i =>
              (math.sin(2 * math.Pi * freq * i / sr) * 16384).toShort)
            graft.ext.Multimodal.MediaRow(
              id, "wav", graft.ext.MediaCodecs.writeWavPcm16(sr, samples))
          }
        graft.ext.Multimodal.audioFeatures(media)
          .select($"media_id", $"channels", $"sample_rate", $"n_samples",
            round($"duration_sec", 6).as("duration_sec"))
          .orderBy($"media_id")
      },
      Some("""SELECT event_id AS media_id, 1 AS channels,
          CAST(8000 + (event_id % 8) * 1000 AS INTEGER) AS sample_rate,
          CAST(400 + event_id % 100 AS INTEGER) AS n_samples,
          round(CAST(400 + event_id % 100 AS DOUBLE)
            / (8000 + (event_id % 8) * 1000), 6) AS duration_sec
        FROM events WHERE event_id < 50 ORDER BY media_id""")),

    // ---- JPEG PIXEL round-trip (r9: the last media stub retired) -----------
    // Full baseline JPEG encode → entropy DECODE (graft.ext.JpegCodec:
    // Huffman + dequant + IDCT + YCbCr→RGB, pure JVM, both 4:4:4 and
    // 4:2:0) per event id. Lossy DCT quantization has no SQL twin, so the
    // pixel claim rides as a BOUNDED-ACCURACY boolean (a8 pattern):
    // pixels_ok = decoded dims match AND max channel error vs the
    // id-derived source gradient ≤ 16 (4:4:4) / 24 (4:2:0, quarter-res
    // chroma). Dims and components are closed-form from event_id, so the
    // row is hash-exact; a decoder regression flips pixels_ok and fails
    // the gate. Bytes never shuffle — synth + decode in one narrow map.
    QueryDef(
      "m_jpeg_roundtrip",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d).filter($"event_id" < 48)
          .select($"event_id").as[Long]
          .map { id =>
            val w = 8 + (id % 25).toInt
            val h = 8 + (id % 17).toInt
            val sub = id % 2 == 1
            // smooth id-seeded gradient: slopes stay ≤ 255 so no wrap
            // discontinuities (ringing would break the error bound)
            def px(x: Int, y: Int): (Int, Int, Int) = (
              (150 + id % 106).toInt * x / math.max(1, w - 1),
              (150 + id % 56).toInt * y / math.max(1, h - 1),
              (150 + id % 76).toInt * (x + y) / math.max(1, w + h - 2))
            val bytes = graft.ext.JpegCodec.writeJpegBaseline(
              w, h, px, quality = 90, subsample420 = sub)
            val meta = graft.ext.MediaCodecs.parseJpegMeta(bytes)
            val ok = graft.ext.JpegCodec.decodeJpeg(bytes).exists { img =>
              var maxErr = 0
              var y = 0
              while (y < img.height) {
                var x = 0
                while (x < img.width) {
                  val (r, g, b) = px(x, y)
                  maxErr = math.max(maxErr, math.max(math.abs(img.r(x, y) - r),
                    math.max(math.abs(img.g(x, y) - g), math.abs(img.b(x, y) - b))))
                  x += 1
                }
                y += 1
              }
              img.width == w && img.height == h && maxErr <= (if (sub) 24 else 16)
            }
            (id, w, h, meta.map(_.nComponents).getOrElse(-1), sub, ok)
          }
          .toDF("media_id", "width", "height", "n_components",
            "subsampled", "pixels_ok")
          .orderBy($"media_id")
      },
      Some("""SELECT event_id AS media_id,
          CAST(8 + event_id % 25 AS INTEGER) AS width,
          CAST(8 + event_id % 17 AS INTEGER) AS height,
          3 AS n_components,
          (event_id % 2 = 1) AS subsampled,
          TRUE AS pixels_ok
        FROM events WHERE event_id < 48 ORDER BY media_id""")),

    // ---- MJPEG-in-mp4 SAMPLE decode (r10: the last media stub retired) -----
    // Synthesize a real MJPEG mp4 per event id (full ISO-BMFF sample
    // tables + mdat of per-frame baseline JPEGs), then run the production
    // path: stsd fourcc dispatch → stsz/stsc/stco sample walk → per-frame
    // JPEG pixel decode (Multimodal.videoFrameFeatures). frames_ok is the
    // m_jpeg_roundtrip bounded-accuracy boolean lifted to video: every
    // frame decodes at the declared dims with max channel error ≤ 16 vs
    // its id+frame-derived source gradient. Codec fourcc, frame count,
    // and dims are closed-form from event_id — hash-exact.
    QueryDef(
      "m_mp4_frame",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d).filter($"event_id" < 40)
          .select($"event_id").as[Long]
          .map { id =>
            val w = 16 + (id % 9).toInt
            val h = 16 + (id % 5).toInt
            val nF = 1 + (id % 3).toInt
            def px(f: Int)(x: Int, y: Int): (Int, Int, Int) = (
              (120 + (id + f) % 130).toInt * x / math.max(1, w - 1),
              (120 + (id + 2 * f) % 80).toInt * y / math.max(1, h - 1),
              (120 + (id + 3 * f) % 100).toInt * (x + y) / math.max(1, w + h - 2))
            val frames = (0 until nF).map(f =>
              graft.ext.JpegCodec.writeJpegBaseline(w, h, px(f), quality = 90))
            val bytes = graft.ext.MediaCodecs.writeMp4Mjpeg(
              w, h, timescale = 1000, ticksPerFrame = 40, frames)
            val codec = graft.ext.MediaCodecs.parseMp4Codec(bytes).getOrElse("?")
            val decoded = graft.ext.MediaCodecs.readMp4Samples(bytes)
              .getOrElse(Seq.empty)
              .map(graft.ext.JpegCodec.decodeJpeg)
            val ok = decoded.size == nF && decoded.zipWithIndex.forall {
              case (Some(img), f) =>
                var maxErr = 0
                var y = 0
                while (y < img.height) {
                  var x = 0
                  while (x < img.width) {
                    val (r, g, b) = px(f)(x, y)
                    maxErr = math.max(maxErr,
                      math.max(math.abs(img.r(x, y) - r),
                        math.max(math.abs(img.g(x, y) - g),
                          math.abs(img.b(x, y) - b))))
                    x += 1
                  }
                  y += 1
                }
                img.width == w && img.height == h && maxErr <= 16
              case (None, _) => false
            }
            (id, codec, nF, w, h, ok)
          }
          .toDF("media_id", "codec", "n_frames", "width", "height", "frames_ok")
          .orderBy($"media_id")
      },
      Some("""SELECT event_id AS media_id, 'jpeg' AS codec,
          CAST(1 + event_id % 3 AS INTEGER) AS n_frames,
          CAST(16 + event_id % 9 AS INTEGER) AS width,
          CAST(16 + event_id % 5 AS INTEGER) AS height,
          TRUE AS frames_ok
        FROM events WHERE event_id < 40 ORDER BY media_id""")),

    // ---- GIF round-trip (r10: lossless arm of the media family) ------------
    // writeGif/writeGifAnimated → decodeGifFrames with id-derived noise
    // indices (poor LZW compressibility — code widths grow) over an
    // id-derived palette. GIF is palette-indexed and LZW is lossless, so
    // unlike m_jpeg_roundtrip's bounded error, pixels_ok pins EXACT index
    // and palette recovery per frame; single frames with odd id are
    // stored interlaced (the four-pass row order must invert exactly),
    // multi-frame ids take the animated writer. parseGifMeta must agree
    // on dims/frames/animated. All columns closed-form from event_id —
    // hash-exact. Bytes never shuffle: synth + decode in one narrow map.
    QueryDef(
      "m_gif_roundtrip",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d).filter($"event_id" < 48)
          .select($"event_id").as[Long]
          .map { id =>
            val w = 8 + (id % 21).toInt
            val h = 8 + (id % 13).toInt
            val nc = 2 + (id % 250).toInt
            val nF = 1 + (id % 3).toInt
            val inter = nF == 1 && id % 2 == 1
            val pal = Array.tabulate(nc)(i =>
              ((i * 2654435761L + id) & 0xffffff).toInt)
            def frame(f: Int): Array[Byte] = {
              val a = new Array[Byte](w * h)
              var i = 0
              while (i < a.length) {
                a(i) = (((i * 7919 + f * 104729 + id * 31) >>> 3) % nc).toByte
                i += 1
              }
              a
            }
            val frames = (0 until nF).map(frame)
            val bytes =
              if (nF == 1) graft.ext.GifCodec.writeGif(
                w, h, pal, frames.head, interlaced = inter)
              else graft.ext.GifCodec.writeGifAnimated(
                w, h, pal, frames, delayCs = 4)
            val meta = graft.ext.GifCodec.parseGifMeta(bytes)
            val ok = graft.ext.GifCodec.decodeGifFrames(bytes).exists { imgs =>
              imgs.size == nF && imgs.zip(frames).forall { case (img, src) =>
                img.width == w && img.height == h &&
                  java.util.Arrays.equals(img.indices, src) &&
                  img.palette.take(nc).sameElements(pal)
              }
            } && meta.exists(m => m.width == w && m.height == h &&
              m.nFrames == nF && m.animated == (nF > 1))
            (id, w, h, nc, nF, inter, ok)
          }
          .toDF("media_id", "width", "height", "n_colors", "n_frames",
            "interlaced", "pixels_ok")
          .orderBy($"media_id")
      },
      Some("""SELECT event_id AS media_id,
          CAST(8 + event_id % 21 AS INTEGER) AS width,
          CAST(8 + event_id % 13 AS INTEGER) AS height,
          CAST(2 + event_id % 250 AS INTEGER) AS n_colors,
          CAST(1 + event_id % 3 AS INTEGER) AS n_frames,
          (event_id % 3 = 0 AND event_id % 2 = 1) AS interlaced,
          TRUE AS pixels_ok
        FROM events WHERE event_id < 48 ORDER BY media_id""")),

    // ---- End-to-end curation pipeline (capstone composition) ---------------
    // The real training-data flow in one declarative plan: quality filter →
    // content-hash dedup (keep min doc_id per fingerprint) → deterministic
    // split → per-split counts. Every stage is an operator declared above;
    // composing them stays one Catalyst plan — no materialization between
    // stages, filters push through, one shuffle per wide stage.
    QueryDef(
      "x_curation_pipeline",
      (s, d) => {
        import s.implicits._
        val toks = split($"text", " ")
        val stopCount =
          expr(s"size(filter(split(text, ' '), t -> t IN ${inList(stopwords)}))")
        val quality = (stopCount.cast("double") / size(toks)) * 0.5 +
          (least(size(toks), lit(100)).cast("double") / 100.0) * 0.5
        val nib = substring(md5($"doc_id".cast("string")), 1, 1)
        val scored = Tables.documents(s, d)
          .select($"doc_id", $"lang",
            md5(regexp_replace(lower($"text"), "\\s+", " ")).as("fp"),
            quality.as("quality"),
            when(nib < "8", "train").when(nib < "c", "val")
              .otherwise("test").as("split"))
          .filter($"quality" >= 0.4)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"fp").orderBy($"doc_id")
        scored
          .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .groupBy($"split", $"lang")
          .agg(count(lit(1)).as("n_docs"),
            Relational.dsum($"quality", 6).as("sum_quality"))
          .orderBy($"split", $"lang")
      },
      Some(s"""WITH scored AS (
          SELECT doc_id, lang,
            md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
            CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopwords)})) AS DOUBLE)
              / len(string_split(text, ' ')) * 0.5
              + CAST(least(len(string_split(text, ' ')), 100) AS DOUBLE) / 100.0 * 0.5 AS quality,
            CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' THEN 'train'
                 WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'val'
                 ELSE 'test' END AS split
          FROM documents),
        filtered AS (SELECT * FROM scored WHERE quality >= 0.4),
        deduped AS (
          SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM filtered)
        SELECT split, lang, COUNT(*) AS n_docs,
          CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
        FROM deduped WHERE rn = 1
        GROUP BY split, lang ORDER BY split, lang""")),

    // ---- Deterministic hash split (train/val/test) -------------------------
    // The standard reproducible split: bucket on a content-independent hash
    // of the stable id — no RNG state, no ordering dependence, identical on
    // any cluster size. First hex nibble of md5: 0-7 train, 8-b val,
    // c-f test (50/25/25).
    QueryDef(
      "x_hash_split",
      (s, d) => {
        import s.implicits._
        val nib = substring(md5($"doc_id".cast("string")), 1, 1)
        Tables.documents(s, d)
          .select($"lang",
            when(nib < "8", "train")
              .when(nib < "c", "val").otherwise("test").as("split"))
          .groupBy($"lang", $"split")
          .agg(count(lit(1)).as("n"))
          .orderBy($"lang", $"split")
      },
      Some("""SELECT lang,
          CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' THEN 'train'
               WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'val'
               ELSE 'test' END AS split,
          COUNT(*) AS n
        FROM documents GROUP BY lang, split ORDER BY lang, split""")),

    // ---- Sequence packing: docs → fixed token-budget bins ------------------
    // LLM-pretraining packing: concatenate documents in stable order and cut
    // at a token budget; each doc reports which bin its first token lands in
    // and at what offset. Packing is PER SHARD (hash of doc_id), which is
    // both what a real pipeline does (shard-local concat → shuffle-free
    // writes) and what makes the window scale: the running sum partitions by
    // shard instead of funnelling the corpus through one task.
    QueryDef(
      "x_pack_sequences",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val budget = 1024
        val w = Window.partitionBy($"shard").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, d)
          .select($"doc_id", ($"doc_id" % 8).as("shard"),
            size(split($"text", " ")).as("n_tokens"))
          .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
          .select($"doc_id", $"shard", $"n_tokens",
            ($"cum_before" / budget).cast("long").as("bin"),
            ($"cum_before" % budget).cast("int").as("bin_offset"))
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (
          SELECT doc_id, doc_id % 8 AS shard,
            CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
          FROM documents),
        packed AS (
          SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0) AS cum_before
          FROM toks)
        SELECT doc_id, shard, n_tokens,
          CAST(cum_before // 1024 AS BIGINT) AS bin,
          CAST(cum_before % 1024 AS INTEGER) AS bin_offset
        FROM packed ORDER BY doc_id""")),

    // ---- Real BPE subword token counting (r13 verdict item 2) --------------
    // Byte-pair encoding under the engine's fixed trained merge table
    // (graft.ext.Bpe.FixedMerges — 24 merges greedily trained on the
    // corpus, provenance spec-pinned) replaces the whitespace/regex token
    // proxies: LLM-pipeline budgets are BPE tokens. The encoder is the
    // rank-order replace chain — 24 codegen'd `replace` passes over a
    // double-boundary segmentation string (Bpe scaladoc: the doubled
    // boundary is what makes leftmost-nonoverlapping replace EXACTLY
    // exhaustive LTR pair merging) — and the oracle replays the SAME chain
    // with the merge table inlined as literals, so the gate is hash-exact
    // by construction, no transcendental anywhere. The iterative
    // lowest-rank-first kernel (functions.BpeTokenCount, SQL
    // `bpe_token_count`) is the long-merge-table scale path, spec-pinned
    // equal on trained tables. Per-row narrow; the only shuffle is the
    // final ORDER BY.
    QueryDef(
      "x_bpe_tokens",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .filter($"text".isNotNull)
          .select($"doc_id",
            size(split($"text", " ")).as("n_ws_tokens"),
            graft.ext.Bpe.tokenCount($"text").as("n_bpe_tokens"),
            // the ITERATIVE kernel as a second gated column: the oracle
            // replays the chain for both, so kernel ≡ chain ≡ DuckDB is
            // re-proven by the GATE at every SF each round, not only by
            // the spec (the two forms agree on trained tables — Bpe
            // scaladoc; a merge-table edit breaking that agreement now
            // reddens this row instead of only a test)
            graft.functions.BpeTokenCount.bpe_token_count($"text")
              .as("n_bpe_tokens_kernel"),
            length(regexp_replace($"text", " ", "")).cast("long")
              .as("n_chars_nospace"))
          .withColumn("bpe_per_ws_ppm",
            expr("(n_bpe_tokens * 1000000) div n_ws_tokens"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH seg AS (
          SELECT doc_id, text,
            ${graft.ext.Bpe.segmentSql("text")} AS s
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
          CAST((length(s) - length(replace(s, '||', ''))) // 2 - 1
            - (length(text) - length(replace(text, ' ', ''))) AS BIGINT)
            AS n_bpe_tokens,
          CAST((length(s) - length(replace(s, '||', ''))) // 2 - 1
            - (length(text) - length(replace(text, ' ', ''))) AS BIGINT)
            AS n_bpe_tokens_kernel,
          CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_nospace,
          (CAST((length(s) - length(replace(s, '||', ''))) // 2 - 1
            - (length(text) - length(replace(text, ' ', ''))) AS BIGINT)
            * 1000000) // len(string_split(text, ' ')) AS bpe_per_ws_ppm
        FROM seg ORDER BY doc_id""")),

    // ---- BPE under the FULL corpus merge closure (r14 verdict item 3) ------
    // The long-merge-table gate: x_bpe_tokens runs the 24-merge prefix;
    // this runs ALL 89 merges the corpus admits — its complete closure,
    // at which point every vocabulary word is one token (n_bpe_full
    // therefore ≈ n_ws_tokens, differing only on words outside the
    // training vocabulary — the 'dup' tail). The verdict's 512+ target
    // exceeds what ANY trainer can extract from this corpus (31 distinct
    // words bound the pair positions at ~150; see Bpe.FullMerges
    // scaladoc): the ≥512 regime is pinned by BpeSpec's synthetic-
    // vocabulary equivalence test and measured by the tokens/s-vs-|merges|
    // curve in BENCH_SCALE r15_bpe_long. Both encoder forms ride as
    // gated columns — the 89-pass replace chain (the oracle replays it
    // mechanically, hash-exact by construction) and the ITERATIVE kernel
    // (the long-table scale path: per-word cost independent of table
    // length) — so kernel ≡ chain ≡ DuckDB is re-proven at the full
    // table by the gate itself each round.
    QueryDef(
      "x_bpe_tokens_long",
      (s, d) => {
        import s.implicits._
        val M = graft.ext.Bpe.FullMerges
        Tables.documents(s, d)
          .filter($"text".isNotNull)
          .select($"doc_id",
            size(split($"text", " ")).as("n_ws_tokens"),
            graft.ext.Bpe.tokenCount($"text", M).as("n_bpe_full"),
            graft.functions.BpeTokenCount.bpe_token_count($"text", M)
              .as("n_bpe_full_kernel"),
            graft.ext.Bpe.tokenCount($"text").as("n_bpe_24"))
          .withColumn("closure_gain_ppm",
            expr("((n_bpe_24 - n_bpe_full) * 1000000) div n_bpe_24"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH seg AS (
          SELECT doc_id, text,
            ${graft.ext.Bpe.segmentSql("text", graft.ext.Bpe.FullMerges)} AS s,
            ${graft.ext.Bpe.segmentSql("text")} AS s24
          FROM documents WHERE text IS NOT NULL),
        cnt AS (
          SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
            CAST((length(s) - length(replace(s, '||', ''))) // 2 - 1
              - (length(text) - length(replace(text, ' ', ''))) AS BIGINT)
              AS n_bpe_full,
            CAST((length(s24) - length(replace(s24, '||', ''))) // 2 - 1
              - (length(text) - length(replace(text, ' ', ''))) AS BIGINT)
              AS n_bpe_24
          FROM seg)
        SELECT doc_id, n_ws_tokens, n_bpe_full,
          n_bpe_full AS n_bpe_full_kernel, n_bpe_24,
          ((n_bpe_24 - n_bpe_full) * 1000000) // n_bpe_24 AS closure_gain_ppm
        FROM cnt ORDER BY doc_id""")),

    // ---- Tokenizer fertility by language -----------------------------------
    // The standard tokenizer-evaluation metric: subword tokens emitted
    // per whitespace word (fertility ≈ 1 means the vocabulary covers the
    // language; ≫ 1 means words shatter into pieces — the signal used to
    // size multilingual vocabularies). BOTH table sizes ride as columns,
    // because the contrast IS the vocabulary-sizing story: under the
    // 24-merge prefix fertility reads ~3.10–3.14 with per-language
    // spread (the undersized-vocabulary regime); under the FULL corpus
    // closure it collapses to exactly 1.0 for every language (complete
    // coverage — measured, and a meaningful structural assertion about
    // the closure, not a bug). Integer fixed point end-to-end: per-doc
    // counts are the hash-exact chain, sums are Long, fertility_ppm =
    // Σbpe·1e6 div Σwords — one groupBy, map-side combined, |langs|
    // output rows.
    QueryDef(
      "x_bpe_fertility",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .filter($"text".isNotNull)
          .select($"lang",
            graft.ext.Bpe.tokenCount($"text").as("n_bpe24"),
            graft.ext.Bpe.tokenCount($"text", graft.ext.Bpe.FullMerges)
              .as("n_bpe_full"),
            size(split($"text", " ")).cast("long").as("n_words"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_bpe24").as("bpe24_tokens"),
            sum($"n_bpe_full").as("bpe_full_tokens"),
            sum($"n_words").as("ws_tokens"))
          .withColumn("fertility24_ppm",
            expr("(bpe24_tokens * 1000000) div ws_tokens"))
          .withColumn("fertility_full_ppm",
            expr("(bpe_full_tokens * 1000000) div ws_tokens"))
          .orderBy($"lang")
      },
      Some(s"""WITH seg AS (
          SELECT lang,
            ${graft.ext.Bpe.segmentSql("text")} AS s24,
            ${graft.ext.Bpe.segmentSql("text", graft.ext.Bpe.FullMerges)} AS sf,
            text
          FROM documents WHERE text IS NOT NULL),
        cnt AS (
          SELECT lang,
            CAST((length(s24) - length(replace(s24, '||', ''))) // 2 - 1
              - (length(text) - length(replace(text, ' ', ''))) AS BIGINT)
              AS n_bpe24,
            CAST((length(sf) - length(replace(sf, '||', ''))) // 2 - 1
              - (length(text) - length(replace(text, ' ', ''))) AS BIGINT)
              AS n_bpe_full,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
          FROM seg)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_bpe24) AS BIGINT) AS bpe24_tokens,
          CAST(SUM(n_bpe_full) AS BIGINT) AS bpe_full_tokens,
          CAST(SUM(n_words) AS BIGINT) AS ws_tokens,
          (CAST(SUM(n_bpe24) AS BIGINT) * 1000000)
            // CAST(SUM(n_words) AS BIGINT) AS fertility24_ppm,
          (CAST(SUM(n_bpe_full) AS BIGINT) * 1000000)
            // CAST(SUM(n_words) AS BIGINT) AS fertility_full_ppm
        FROM cnt GROUP BY lang ORDER BY lang""")),

    // ---- Sequence packing under a BPE token budget -------------------------
    // x_pack_sequences' shard-local packing with the budget measured in
    // REAL subword tokens (the unit a pretraining run actually packs to)
    // instead of whitespace tokens. Same scale shape: per-shard window,
    // no corpus-wide single-partition stage; the BPE count is the narrow
    // per-row replace chain above.
    QueryDef(
      "x_pack_sequences_bpe",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val budget = 1024
        val w = Window.partitionBy($"shard").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, d)
          .filter($"text".isNotNull)
          .select($"doc_id", ($"doc_id" % 8).as("shard"),
            graft.ext.Bpe.tokenCount($"text").as("n_bpe_tokens"))
          .withColumn("cum_before",
            coalesce(sum($"n_bpe_tokens").over(w), lit(0L)))
          .select($"doc_id", $"shard", $"n_bpe_tokens",
            ($"cum_before" / budget).cast("long").as("bin"),
            ($"cum_before" % budget).cast("int").as("bin_offset"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH seg AS (
          SELECT doc_id, doc_id % 8 AS shard,
            CAST((length(s) - length(replace(s, '||', ''))) // 2 - 1
              - (length(text) - length(replace(text, ' ', ''))) AS BIGINT)
              AS n_bpe_tokens
          FROM (SELECT doc_id, text,
              ${graft.ext.Bpe.segmentSql("text")} AS s
            FROM documents WHERE text IS NOT NULL)),
        packed AS (
          SELECT *, COALESCE(SUM(n_bpe_tokens) OVER (PARTITION BY shard
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0) AS cum_before
          FROM seg)
        SELECT doc_id, shard, n_bpe_tokens,
          CAST(cum_before // 1024 AS BIGINT) AS bin,
          CAST(cum_before % 1024 AS INTEGER) AS bin_offset
        FROM packed ORDER BY doc_id""")),

    // ---- Weighted source mixing (deterministic hash sampling) --------------
    // Data-mixture construction: per-language keep rates applied by
    // comparing an id-derived md5 prefix against a rate threshold — no RNG
    // state, reproducible on any cluster size, and the SAME md5 exists in
    // DuckDB so the mixture is oracle-checkable. Rates quantize to /256:
    // en 0.75 ('c0'), de 0.50 ('80'), fr 0.25 ('40'), others 1.0.
    QueryDef(
      "x_source_mix",
      (s, d) => {
        import s.implicits._
        val h2 = substring(md5($"doc_id".cast("string")), 1, 2)
        val thresh = when($"lang" === "en", "c0")
          .when($"lang" === "de", "80")
          .when($"lang" === "fr", "40")
          .otherwise("zz") // above any hex pair: always keep
        Tables.documents(s, d)
          .select($"lang", (h2 < thresh).as("kept"),
            size(split($"text", " ")).as("n_tokens"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_total"),
            sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
            sum(when($"kept", $"n_tokens".cast("long")).otherwise(0L))
              .as("kept_tokens"))
          .orderBy($"lang")
      },
      // Both SUMs are CAST AS BIGINT: DuckDB SUM(int) is HUGEINT, which
      // pandas renders as float ("123.0" vs Spark's "123") and fails the
      // driver's value hash even when every number agrees (r6 hash_match
      // false on this key).
      Some("""SELECT lang, COUNT(*) AS n_total,
          CAST(SUM(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
            CASE lang WHEN 'en' THEN 'c0' WHEN 'de' THEN '80'
                      WHEN 'fr' THEN '40' ELSE 'zz' END
            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
            CASE lang WHEN 'en' THEN 'c0' WHEN 'de' THEN '80'
                      WHEN 'fr' THEN '40' ELSE 'zz' END
            THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS kept_tokens
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- Stratified deterministic sample (top-k per stratum) ---------------
    // Eval-set construction: k docs per language, chosen by md5 order — a
    // reproducible stratified sample with no RNG. The window partitions by
    // stratum, so parallelism is across strata and the sort is per-group.
    QueryDef(
      "x_stratified_sample",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"lang")
          .orderBy(md5($"doc_id".cast("string")), $"doc_id")
        Tables.documents(s, d)
          .select($"doc_id", $"lang")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 5)
          .select($"doc_id", $"lang", $"rn")
          .orderBy($"lang", $"rn")
      },
      Some("""SELECT doc_id, lang, rn FROM (
          SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
        WHERE rn <= 5 ORDER BY lang, rn""")),

    // ---- Edit distance vs a probe (fuzzy text match) -----------------------
    QueryDef(
      "x_edit_distance",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d).filter($"doc_id" < 200)
          .select($"doc_id",
            levenshtein(substring($"text", 1, 40),
              lit("the quick brown fox jumps over the lazy")).as("dist"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, CAST(levenshtein(substring(text, 1, 40),
          'the quick brown fox jumps over the lazy') AS INTEGER) AS dist
        FROM documents WHERE doc_id < 200 ORDER BY doc_id""")),

    // ---- Within-document repetition (LLM curation: boilerplate signal) -----
    // Fraction of duplicated 3-word shingles per doc: high rep_ratio =
    // template/boilerplate text. Narrow per-row HOF work; the only wide op
    // is the final top-k (TakeOrderedAndProject).
    QueryDef(
      "x_repetition",
      (s, d) => {
        import s.implicits._
        // toks projected to an attribute FIRST: the shingle lambda then
        // reads a bound value per element instead of re-splitting the doc
        // (interpreted-HOF re-evaluation is O(tokens²) otherwise)
        val allSh = expr("""transform(
          sequence(1, size(toks) - 2),
          i -> concat_ws(' ',
            element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))""")
        Tables.documents(s, d)
          .withColumn("toks", split($"text", " "))
          .filter(size($"toks") >= 3)
          .select($"doc_id", allSh.as("sh"))
          .select($"doc_id", size($"sh").as("n_shingles"),
            size(array_distinct($"sh")).as("n_distinct"))
          .withColumn("rep_ratio",
            round(lit(1.0) - $"n_distinct".cast("double") / $"n_shingles", 6))
          .orderBy($"rep_ratio".desc, $"doc_id")
          .limit(100)
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_transform(
            generate_series(1, len(string_split(text, ' ')) - 2),
            i -> concat_ws(' ', string_split(text, ' ')[i],
                   string_split(text, ' ')[i+1], string_split(text, ' ')[i+2])) AS sh
          FROM documents WHERE len(string_split(text, ' ')) >= 3)
        SELECT doc_id, CAST(len(sh) AS INTEGER) AS n_shingles,
          CAST(len(list_distinct(sh)) AS INTEGER) AS n_distinct,
          round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6) AS rep_ratio
        FROM sh ORDER BY rep_ratio DESC, doc_id LIMIT 100""")),

    // ---- Lexical diversity: type-token ratio per language ------------------
    // Lang-level TTR from exact integer sums (one final double division) —
    // order-independent, so partial aggregation stays bit-exact.
    QueryDef(
      "x_ttr_by_lang",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"lang", size(split($"text", " ")).as("n_tokens"),
            size(array_distinct(split($"text", " "))).as("n_types"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("sum_tokens"),
            sum($"n_types").as("sum_types"))
          .withColumn("ttr",
            round($"sum_types".cast("double") / $"sum_tokens", 6))
          .orderBy($"lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
          CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS sum_types,
          round(CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS DOUBLE)
            / SUM(len(string_split(text, ' '))), 6) AS ttr
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- Train/val/test contamination via strong near-dups -----------------
    // A near-duplicate pair (3-gram Jaccard >= 0.9) straddling two split
    // buckets leaks training data into eval — the check every LLM pipeline
    // needs before shipping a split. Bounded doc subset keeps the oracle's
    // brute-force pair scan tractable; the engine-scale path would feed
    // MinHash candidates into the same split comparison.
    QueryDef(
      "x_contamination",
      (s, d) => {
        import s.implicits._
        val nib = substring(md5($"doc_id".cast("string")), 1, 1)
        // cache before the self-join (computed shingle columns recompute on
        // both sides otherwise); per-side sizes precompute so each pair
        // evaluates ONE array_intersect and derives the union size as
        // |A|+|B|-|A∩B| instead of materializing array_union too
        // eager localCheckpoint, not cache(): same materialization barrier
        // (shingle columns would recompute on both self-join sides), but
        // the blocks free with the RDD instead of accumulating in the
        // CacheManager across invocations
        val docs = Tables.documents(s, d)
          .withColumn("toks", split($"text", " "))
          .filter($"doc_id" < 300 && size($"toks") >= 3)
          .select($"doc_id",
            DedupQueries.shinglesOfToks($"toks").as("sh"),
            when(nib < "8", "train").when(nib < "c", "val")
              .otherwise("test").as("split"))
          .withColumn("n_sh", size($"sh"))
          .localCheckpoint(true)
        val a = docs.select($"doc_id".as("a"), $"sh".as("sha"),
          $"n_sh".as("na"), $"split".as("split_a"))
        val b = docs.select($"doc_id".as("b"), $"sh".as("shb"),
          $"n_sh".as("nb"), $"split".as("split_b"))
        a.join(broadcast(b), $"a" < $"b")
          .select($"a", $"b", $"split_a", $"split_b", $"na", $"nb",
            size(array_intersect($"sha", $"shb")).as("inter"))
          .filter($"inter".cast("double") / ($"na" + $"nb" - $"inter") >= 0.9)
          .filter($"split_a" =!= $"split_b")
          .groupBy(least($"split_a", $"split_b").as("split_lo"),
            greatest($"split_a", $"split_b").as("split_hi"))
          .agg(count(lit(1)).as("n_leaked_pairs"))
          .orderBy($"split_lo", $"split_hi")
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 2),
            i -> concat_ws(' ', string_split(text, ' ')[i],
                   string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS sh,
            CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' THEN 'train'
                 WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'val'
                 ELSE 'test' END AS split
          FROM documents
          WHERE doc_id < 300 AND len(string_split(text, ' ')) >= 3)
        SELECT least(a.split, b.split) AS split_lo,
          greatest(a.split, b.split) AS split_hi,
          COUNT(*) AS n_leaked_pairs
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9
          AND a.split <> b.split
        GROUP BY split_lo, split_hi ORDER BY split_lo, split_hi""")),

    // ---- Length-outlier trimming: per-lang percentile gates ----------------
    // Keep docs inside [p05, p95] of n_chars within their language — the
    // standard length-filter step. Exact interpolated percentiles (Spark
    // `percentile` == DuckDB `quantile_cont` formula), thresholds rounded
    // identically on both sides before the comparison.
    QueryDef(
      "x_length_trim",
      (s, d) => {
        import s.implicits._
        val gates = Tables.documents(s, d)
          .groupBy($"lang")
          .agg(round(expr("percentile(n_chars, 0.05)"), 4).as("p05"),
            round(expr("percentile(n_chars, 0.95)"), 4).as("p95"))
        Tables.documents(s, d)
          .join(broadcast(gates), Seq("lang"))
          .groupBy($"lang", $"p05", $"p95")
          .agg(count(lit(1)).as("n_docs"),
            count(when($"n_chars" >= $"p05" && $"n_chars" <= $"p95", 1))
              .as("n_kept"),
            count(when($"n_chars" < $"p05" || $"n_chars" > $"p95", 1))
              .as("n_trimmed"))
          .orderBy($"lang")
      },
      Some("""WITH gates AS (
          SELECT lang, round(quantile_cont(n_chars, 0.05), 4) AS p05,
            round(quantile_cont(n_chars, 0.95), 4) AS p95
          FROM documents GROUP BY lang)
        SELECT d.lang, g.p05, g.p95, COUNT(*) AS n_docs,
          COUNT(*) FILTER (WHERE n_chars >= p05 AND n_chars <= p95) AS n_kept,
          COUNT(*) FILTER (WHERE n_chars < p05 OR n_chars > p95) AS n_trimmed
        FROM documents d JOIN gates g ON d.lang = g.lang
        GROUP BY d.lang, g.p05, g.p95 ORDER BY d.lang""")),

    // ---- X5: facet rollup over lang × source -------------------------------
    QueryDef(
      "x5_facet_rollup",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .groupBy($"lang", $"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars").as("sum_chars"),
            (sum($"n_chars").cast("double") / count(lit(1))).as("avg_chars"))
          .orderBy($"lang", $"source")
      },
      Some("""SELECT lang, source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        FROM documents GROUP BY lang, source ORDER BY lang, source""")),

    // ---- PII redaction: regex detect + replace, counts + redacted hash -----
    // The scrubbing step every LLM corpus pipeline runs before training.
    // The corpus carries no natural PII, so deterministic emails / phones /
    // IPs derived from doc_id are planted first (mod-cycled so counts vary);
    // detection is then the real operator: three RE2-and-Java-compatible
    // patterns (no backreferences, no lookaround — the dialect overlap),
    // counted via regexp_extract_all and removed via sequential
    // regexp_replace (email → phone → IP; Spark replaces globally by
    // default, DuckDB needs the 'g' flag). md5 of the redacted text proves
    // byte-identical redaction cross-engine — far stronger than matching
    // counts. Narrow per-row work; nothing shuffles but the final sort.
    QueryDef(
      "x_pii_redact",
      (s, d) => {
        import s.implicits._
        val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phoneRe = "\\b555-[0-9]{4}\\b"
        val ipRe = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
        val planted = concat($"text",
          when($"doc_id" % 3 === 0, concat(lit(" contact user"),
            $"doc_id".cast("string"), lit("@mail.example.com"))).otherwise(""),
          when($"doc_id" % 4 === 0, concat(lit(" call 555-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0"))).otherwise(""),
          when($"doc_id" % 5 === 0, concat(lit(" from 10.0."),
            ($"doc_id" % 256).cast("string"), lit(".7"))).otherwise(""))
        Tables.documents(s, d)
          .select($"doc_id", planted.as("t"))
          .select($"doc_id",
            size(regexp_extract_all($"t", lit(emailRe), lit(0))).as("n_email"),
            size(regexp_extract_all($"t", lit(phoneRe), lit(0))).as("n_phone"),
            size(regexp_extract_all($"t", lit(ipRe), lit(0))).as("n_ip"),
            md5(regexp_replace(regexp_replace(regexp_replace($"t",
              emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipRe, "<IP>"))
              .as("red_md5"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
          SELECT doc_id,
            text ||
            CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || doc_id || '@mail.example.com' ELSE '' END ||
            CASE WHEN doc_id % 4 = 0
              THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END ||
            CASE WHEN doc_id % 5 = 0
              THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END AS t
          FROM documents)
        SELECT doc_id,
          len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
          len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS n_phone,
          len(regexp_extract_all(t, '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS n_ip,
          md5(regexp_replace(regexp_replace(regexp_replace(t,
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
            '\b555-[0-9]{4}\b', '<PHONE>', 'g'),
            '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b', '<IP>', 'g')) AS red_md5
        FROM t ORDER BY doc_id""")),

    // ---- TF-IDF top terms per document -------------------------------------
    // The classic salience ranking: tf(doc, term) × ln(N / df(term)), top 3
    // per doc. df(term) is a COUNT WINDOW over the tf rows partitioned by
    // term, not a separate aggregate + self-join: both shapes shuffle tf by
    // term exactly once, but the window drops the dfq build and the join
    // stage entirely — measured 0.78s → 0.65s median at sf0.1 (noop-forced,
    // identical results). The corpus size N rides in as a broadcast 1-row
    // scalar, never a collect. Scores round to 6 decimals BEFORE the rank
    // window on both engines so float ties break identically (then term asc).
    QueryDef(
      "x_tfidf_top_terms",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val tf = docs
          .select($"doc_id", explode(split($"text", " ")).as("term"))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val withDf = tf.withColumn("df",
          count(lit(1)).over(Window.partitionBy($"term")))
        val n = docs.agg(count(lit(1)).as("n"))
        val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
        withDf.crossJoin(broadcast(n))
          .select($"doc_id", $"term",
            round($"tf" * log($"n".cast("double") / $"df"), 6).as("tfidf"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .select($"doc_id", $"rn", $"term", $"tfidf")
          .orderBy($"doc_id", $"rn")
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (
          SELECT t.doc_id, t.term,
            round(t.tf * ln(n.n::DOUBLE / d.df), 6) AS tfidf
          FROM tf t JOIN dfq d USING (term), n),
        top AS (
          SELECT doc_id, term, tfidf,
            ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
          FROM scored)
        SELECT doc_id, rn, term, tfidf FROM top WHERE rn <= 3
        ORDER BY doc_id, rn""")),

    // ---- BM25 retrieval scoring: top-k documents for a term query ----------
    // Okapi BM25 (k1=1.2, b=0.75) — the production retrieval scorer next
    // to the plain TF-IDF above: idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    // tf saturation normalized by doc length vs corpus average. The query
    // is the 5 highest-df terms (closed-form, deterministic tiebreak) so
    // the row needs no external input. Float-sum determinism: per
    // (doc, term) contributions are 1e-6 fixed-point longs (the
    // x_unigram_surprisal idiom — identical expression structure on both
    // engines, same Math.log-vs-libm caveat), doc scores are long sums,
    // and the top-20 ranking orders by the LONG sum, so ties and order
    // are exact. Scale shape: df + query fit on the driver (broadcast);
    // the only wide ops are the token tf groupBy and the final top-k —
    // same as any inverted-index scoring pass.
    QueryDef(
      "x_bm25_topk",
      (s, d) => {
        import s.implicits._
        val tok = Tables.documents(s, d)
          .select($"doc_id", explode(split($"text", " ")).as("term"))
          .filter(length($"term") > 0)
        val dl = tok.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
        val stats = dl.agg(count(lit(1)).as("nd"),
          (sum($"dl").cast("double") / count(lit(1))).as("avgdl"))
        val df = tok.select($"doc_id", $"term").distinct()
          .groupBy($"term").agg(count(lit(1)).as("df"))
        val qterms = df.orderBy($"df".desc, $"term").limit(5)
        val tf = tok.join(broadcast(qterms), Seq("term"))
          .groupBy($"doc_id", $"term", $"df").agg(count(lit(1)).as("tf"))
        // ONE definition of the contribution with the inverted-index
        // query path (InvertedIndex.bm25TopK) — parity by construction
        tf.join(dl, Seq("doc_id")).crossJoin(broadcast(stats))
          .select($"doc_id", graft.sources.InvertedIndex
            .bm25Fx($"tf", $"df", $"dl", $"nd", $"avgdl").as("fx"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_terms_hit"), sum($"fx").as("sfx"))
          .orderBy($"sfx".desc, $"doc_id").limit(20)
          .select($"doc_id", $"n_terms_hit",
            round($"sfx".cast("double") / 1e6, 6).as("bm25"))
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        tokf AS (SELECT * FROM tok WHERE length(term) > 0),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokf GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS nd,
          CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokf
          GROUP BY term),
        qterms AS (SELECT term, df FROM dfq ORDER BY df DESC, term LIMIT 5),
        tf AS (SELECT t.doc_id, t.term, q.df, COUNT(*) AS tf
          FROM tokf t JOIN qterms q USING (term)
          GROUP BY t.doc_id, t.term, q.df),
        fx AS (SELECT tf.doc_id,
            CAST(round(ln(1.0 + (s.nd - tf.df + 0.5) / (tf.df + 0.5)) *
              ((tf.tf * 2.2) /
                (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) * 1000000)
              AS BIGINT) AS fx
          FROM tf JOIN dl USING (doc_id), stats s),
        top AS (SELECT doc_id, COUNT(*) AS n_terms_hit, SUM(fx) AS sfx
          FROM fx GROUP BY doc_id ORDER BY sfx DESC, doc_id LIMIT 20)
        SELECT doc_id, n_terms_hit,
          round(CAST(sfx AS DOUBLE) / 1000000, 6) AS bm25
        FROM top ORDER BY sfx DESC, doc_id""")),

    // ---- Benchmark contamination by exact span overlap ---------------------
    // The n-gram decontamination check (GPT-3 appendix C style): an eval
    // doc is contaminated if any 8-token span of it appears verbatim in the
    // train split. Splits via the same deterministic md5-nibble rule as
    // x_hash_split/x_contamination; emits (doc_id, split, n_leaked_spans)
    // for affected val/test docs. Distinct from x_contamination (whole-doc
    // near-dup leakage): this catches verbatim FRAGMENTS of train docs
    // inside otherwise-novel eval docs. Shuffles key on span/doc_id only.
    QueryDef(
      "x_span_contamination",
      (s, d) => {
        import s.implicits._
        val nib = substring(md5($"doc_id".cast("string")), 1, 1)
        // span construction is shared with SpanDedup (ONE definition of
        // "span"); eager localCheckpoint because `base` feeds BOTH the
        // train-span branch and the eval side of the join — without the
        // barrier the scan + span explode runs twice (the same trap
        // x_contamination documents)
        val base = Tables.documents(s, d)
          .withColumn("toks", split($"text", " "))
          .filter(size($"toks") >= 8)
          .select($"doc_id",
            when(nib < "8", "train").when(nib < "c", "val")
              .otherwise("test").as("split"),
            explode(array_distinct(
              graft.ext.SpanDedup.spanArray($"toks", 8))).as("span"))
          .localCheckpoint(true)
        val trainSpans = base.filter($"split" === "train")
          .select($"span").distinct()
        base.filter($"split" =!= "train")
          .join(trainSpans, Seq("span"))
          .groupBy($"doc_id", $"split")
          .agg(countDistinct($"span").as("n_leaked_spans"))
          .orderBy($"doc_id")
      },
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS t,
            CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' THEN 'train'
                 WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'val'
                 ELSE 'test' END AS split
          FROM documents),
        sp AS (
          SELECT doc_id, split, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(t) - 7, 0)),
            i -> array_to_string(t[i:i+7], ' ')))) AS span
          FROM base),
        train_spans AS (SELECT DISTINCT span FROM sp WHERE split = 'train')
        SELECT s.doc_id, s.split, COUNT(DISTINCT s.span) AS n_leaked_spans
        FROM sp s JOIN train_spans t USING (span)
        WHERE s.split <> 'train'
        GROUP BY s.doc_id, s.split ORDER BY s.doc_id""")),

    // ---- Unigram surprisal: information-theoretic outlier scoring ----------
    // Per-doc mean -ln p(term) under the corpus unigram model — low =
    // boilerplate-heavy, high = out-of-distribution vocabulary; the
    // model-free cousin of perplexity filtering. Float-sum determinism:
    // per-token surprisals are rounded to 1e-6 FIXED POINT and summed as
    // longs (order-independent, exact — a double AVG would depend on
    // partition order and never hash-match the oracle); the division back
    // to a mean happens once, deterministically, per doc. Residual
    // cross-engine exposure: each fx is round(-ln(c/n)*1e6) computed by
    // Java Math.log vs DuckDB's libm independently — a value within ~1e-10
    // of a .5 boundary can flip the long on one engine (same class as
    // round(cosine, 4)). REALIZED at sf0.1 in the bigram sibling (r17:
    // one bigram type in ~600k flipped, shifting one doc's mean by
    // 1e-6/n onto a 6-dp round boundary), so the published mean is now
    // 4 dp: a 1-unit fx flip moves the mean by ≤1e-6/n ≈ 1e-8, four-plus
    // orders below the output grid — flip visibility per row drops from
    // ~1 (mean ON the finer boundary) to ~1e-4. The fixed-point SUM
    // stays exact and order-independent; only published precision
    // changed.
    QueryDef(
      "x_unigram_surprisal",
      (s, d) => {
        import s.implicits._
        val tok = Tables.documents(s, d)
          .select($"doc_id", explode(split($"text", " ")).as("term"))
        val cnt = tok.groupBy($"term").agg(count(lit(1)).as("c"))
        val tot = tok.agg(count(lit(1)).as("n"))
        tok.join(cnt, Seq("term")).crossJoin(broadcast(tot))
          .select($"doc_id",
            round(-log($"c".cast("double") / $"n") * 1e6, 0).cast("long")
              .as("fx"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum($"fx").as("sfx"))
          .select($"doc_id", $"n_tokens",
            round($"sfx".cast("double") / 1e6 / $"n_tokens", 4)
              .as("avg_surprisal"))
          .orderBy($"doc_id")
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
        tot AS (SELECT COUNT(*) AS n FROM tok),
        fx AS (
          SELECT t.doc_id,
            CAST(round(-ln(c.c::DOUBLE / tot.n) * 1000000) AS BIGINT) AS fx
          FROM tok t JOIN cnt c USING (term), tot)
        SELECT doc_id, COUNT(*) AS n_tokens,
          round(CAST(SUM(fx) AS DOUBLE) / 1000000 / COUNT(*), 4) AS avg_surprisal
        FROM fx GROUP BY doc_id ORDER BY doc_id""")),

    // ---- DSIR importance weights: target-conditioned data selection --------
    // Data Selection via Importance Resampling (Xie et al. 2023): score
    // every RAW-pool document by the log-likelihood ratio of its tokens
    // under a TARGET unigram model vs the RAW unigram model, both
    // Laplace-smoothed over the shared vocabulary — documents whose
    // vocabulary looks like the target distribution get positive weights
    // and are what importance resampling would keep. Target here is the
    // `src0` slice standing in for "high-quality reference corpus"; raw
    // is everything else. Scale shape: the model is a VOCAB-sized frame
    // (per-term fx computed once, not per token), the scoring join is
    // token→term equi (the x_unigram_surprisal shape), and per-token
    // log-ratios are 1e-6 fixed-point longs so doc sums are
    // order-independent and hash-exact (same float-determinism contract
    // and Math.log-vs-libm caveat as the surprisal family).
    QueryDef(
      "x_dsir_weights",
      (s, d) => {
        import s.implicits._
        val tok = Tables.documents(s, d)
          .select($"doc_id", $"source", explode(split($"text", " ")).as("term"))
        val isT = $"source" === "src0"
        val cntT = tok.filter(isT).groupBy($"term").agg(count(lit(1)).as("ct"))
        val cntR = tok.filter(!isT).groupBy($"term").agg(count(lit(1)).as("cr"))
        val stats = tok.agg(
          count(when(isT, lit(1))).as("nt"),
          count(when(!isT, lit(1))).as("nr"),
          countDistinct($"term").as("v"))
        val model = tok.select($"term").distinct()
          .join(cntT, Seq("term"), "left")
          .join(cntR, Seq("term"), "left")
          .crossJoin(broadcast(stats))
          // guardedRound (r13 verdict item 8): the Math.log-vs-libm ulp
          // tie-boundary risk is pinned — a term whose log-ratio lands
          // within 2 ulp of a .5e-6 boundary fails loudly and self-names
          .select($"term", graft.functions.FixedPoint.guardedRound((
            log((coalesce($"ct", lit(0L)) + 1).cast("double")
              / ($"nt" + $"v").cast("double"))
            - log((coalesce($"cr", lit(0L)) + 1).cast("double")
              / ($"nr" + $"v").cast("double"))) * 1e6,
            "x_dsir_weights.fx").as("fx"))
        // emit the TOTAL log-ratio (the paper's log importance weight):
        // dividing the fixed-point sum by n_tokens manufactures .5e-6
        // round boundaries (one flipped at sf0.001) — /1e6 alone keeps
        // the value ON the 6-dp grid, the x4_pq_topk adc_dist pattern
        tok.filter(!isT).join(model, Seq("term"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum($"fx").as("sfx"))
          .select($"doc_id", $"n_tokens",
            round($"sfx".cast("double") / 1e6, 6).as("log_weight"),
            ($"sfx" > 0).as("preferred"))
          .orderBy($"doc_id")
      },
      Some("""WITH tok AS (
          SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
          FROM documents),
        tt AS (SELECT term, COUNT(*) AS ct FROM tok WHERE source = 'src0' GROUP BY term),
        tr AS (SELECT term, COUNT(*) AS cr FROM tok WHERE source <> 'src0' GROUP BY term),
        st AS (
          SELECT COUNT(*) FILTER (source = 'src0') AS nt,
            COUNT(*) FILTER (source <> 'src0') AS nr,
            COUNT(DISTINCT term) AS v
          FROM tok),
        model AS (
          SELECT t.term,
            CAST(round((
              ln((COALESCE(tt.ct, 0) + 1)::DOUBLE / (st.nt + st.v))
              - ln((COALESCE(tr.cr, 0) + 1)::DOUBLE / (st.nr + st.v)))
              * 1000000) AS BIGINT) AS fx
          FROM (SELECT DISTINCT term FROM tok) t
          LEFT JOIN tt USING (term) LEFT JOIN tr USING (term), st)
        SELECT k.doc_id, COUNT(*) AS n_tokens,
          round(CAST(SUM(m.fx) AS DOUBLE) / 1000000, 6) AS log_weight,
          (SUM(m.fx) > 0) AS preferred
        FROM tok k JOIN model m USING (term)
        WHERE k.source <> 'src0'
        GROUP BY k.doc_id ORDER BY k.doc_id""")),

    // ---- Zipf rank-frequency slope: corpus-health diagnostic ---------------
    // Natural-language corpora follow Zipf's law: log-log rank-frequency
    // is near-linear with slope ≈ −1. A synthetic, templated, or
    // scrambled corpus bends away from it, so the fitted slope is a
    // one-number corpus-health check a curation pipeline runs before
    // training. Least squares over the top-1000 terms (rank by freq
    // desc, term asc — deterministic): x = ln(rank), y = ln(count),
    // both rounded to 1e-6 FIXED POINT and summed as longs (exact,
    // order-independent); the normal-equation numerator/denominator are
    // combined in DECIMAL(38,0) (n·Σxy overflows a long at these
    // magnitudes), and only the final division happens in doubles —
    // both engines divide the same exact integers, so the row is
    // hash-exact.
    QueryDef(
      "x_zipf_slope",
      (s, d) => {
        import s.implicits._
        // top-1000 via orderBy+limit = TakeOrderedAndProject (distributed
        // top-k) — the row_number window then runs over 1000 rows, not the
        // full vocabulary (a global window over a 100M-term vocab would be
        // a single-partition funnel)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"c".desc, $"term")
        val ranked = Tables.documents(s, d)
          .select(explode(split($"text", " ")).as("term"))
          .groupBy($"term").agg(count(lit(1)).as("c"))
          .orderBy($"c".desc, $"term").limit(1000)
          .withColumn("rank", row_number().over(w))
          .select(
            round(log($"rank".cast("double")) * 1e6, 0).cast("long").as("fx"),
            round(log($"c".cast("double")) * 1e6, 0).cast("long").as("fy"))
        val sums = ranked.agg(
          count(lit(1)).as("n"),
          sum($"fx").as("sx"), sum($"fy").as("sy"),
          sum($"fx" * $"fy").as("sxy"), sum($"fx" * $"fx").as("sxx"))
        val dec = "decimal(38,0)"
        // n >= 2 guard: a single-term vocabulary zeroes the least-squares
        // denominator (n·Σxx − Σx² = 0), and 0/0 is engine-dependent
        // (Spark NaN vs DuckDB error/NULL) — emit NULL slope for
        // degenerate corpora on BOTH engines instead
        sums.select($"n",
          when($"n" >= 2, round(
            (($"n".cast(dec) * $"sxy" - $"sx".cast(dec) * $"sy").cast("double")
              / (($"n".cast(dec) * $"sxx" - $"sx".cast(dec) * $"sx")
                  .cast("double"))), 6)).as("slope"))
      },
      Some("""WITH cnt AS (
          SELECT term, COUNT(*) AS c
          FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
          GROUP BY term),
        ranked AS (
          SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS fx,
            CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS fy
          FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rank
                FROM cnt)
          WHERE rank <= 1000),
        sums AS (
          SELECT COUNT(*) AS n,
            CAST(SUM(fx) AS BIGINT) AS sx, CAST(SUM(fy) AS BIGINT) AS sy,
            CAST(SUM(fx * fy) AS HUGEINT) AS sxy,
            CAST(SUM(fx * fx) AS HUGEINT) AS sxx
          FROM ranked)
        SELECT n,
          CASE WHEN n >= 2 THEN round(
            CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
            / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE),
            6) ELSE NULL END AS slope
        FROM sums""")),

    // ---- Bigram-LM surprisal: perplexity filtering proper ------------------
    // Per-doc mean -ln P(w | prev) under a corpus bigram model with
    // Laplace smoothing: P(w|prev) = (c(prev,w) + 1) / (c(prev) + V).
    // This IS the classic perplexity quality filter (x_unigram_surprisal
    // is its context-free cousin): boilerplate scores low (its bigrams
    // saturate the corpus), shuffled or OOD text scores high even when
    // its unigram mix looks normal. Scale shape: bigram construction is
    // O(tokens) over the projected token-array attribute; the model is
    // two count aggregates (bigram-keyed, unigram-keyed) joined back to
    // the bigram stream — all equi-shuffles on token keys, V rides in as
    // one broadcast scalar. Same fixed-point discipline as the unigram
    // row (1e-6 longs, order-independent), and the same residual
    // last-ulp ln() exposure noted there — REALIZED here at sf0.1 (r17):
    // one flipped bigram type put doc 1705's mean exactly on a 6-dp
    // boundary, so the mean is published at 4 dp (see the unigram note).
    // Docs under 2 tokens have no bigrams and are excluded (both
    // engines agree).
    QueryDef(
      "x_bigram_surprisal",
      (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d)
          .select($"doc_id", split($"text", " ").as("t"))
        val tok = toks.select($"doc_id", explode($"t").as("term"))
        val cnt = tok.groupBy($"term").agg(count(lit(1)).as("c1"))
        val vocab = tok.agg(countDistinct($"term").as("v"))
        val bg = toks.filter(size($"t") >= 2)
          .select($"doc_id", explode(transform(
            sequence(lit(1), size($"t") - 1),
            i => struct(element_at($"t", i).as("prev"),
              element_at($"t", i + 1).as("w")))).as("b"))
          .select($"doc_id", $"b.prev".as("prev"), $"b.w".as("w"))
        val cbg = bg.groupBy($"prev", $"w").agg(count(lit(1)).as("c2"))
        bg.join(cbg, Seq("prev", "w"))
          .join(cnt.withColumnRenamed("term", "prev"), Seq("prev"))
          .crossJoin(broadcast(vocab))
          .select($"doc_id",
            round(-log(($"c2" + 1).cast("double") / ($"c1" + $"v")) * 1e6, 0)
              .cast("long").as("fx"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum($"fx").as("sfx"))
          .select($"doc_id", $"n_bigrams",
            round($"sfx".cast("double") / 1e6 / $"n_bigrams", 4)
              .as("avg_surprisal"))
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
        cnt AS (SELECT term, COUNT(*) AS c1 FROM tok GROUP BY term),
        vocab AS (SELECT COUNT(DISTINCT term) AS v FROM tok),
        bg0 AS (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, len(t) - 1),
            i -> {'prev': t[i], 'w': t[i+1]})) AS b
          FROM toks WHERE len(t) >= 2),
        bg AS (SELECT doc_id, b.prev AS prev, b.w AS w FROM bg0),
        cbg AS (SELECT prev, w, COUNT(*) AS c2 FROM bg GROUP BY prev, w),
        fx AS (
          SELECT g.doc_id,
            CAST(round(-ln((c.c2 + 1)::DOUBLE / (u.c1 + vocab.v)) * 1000000)
              AS BIGINT) AS fx
          FROM bg g JOIN cbg c USING (prev, w)
          JOIN cnt u ON u.term = g.prev, vocab)
        SELECT doc_id, COUNT(*) AS n_bigrams,
          round(CAST(SUM(fx) AS DOUBLE) / 1000000 / COUNT(*), 4) AS avg_surprisal
        FROM fx GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Kneser-Ney bigram surprisal (the principled LM filter) ------------
    // Laplace smoothing (x_bigram_surprisal) over-reserves mass for unseen
    // events; interpolated Kneser-Ney is what real LM-based quality
    // filters use: P(w|prev) = max(c(prev,w)-d, 0)/c(prev·)
    //   + d·N1+(prev,·)/c(prev·) · N1+(·,w)/|distinct bigrams|,
    // where c(prev·) counts bigram STARTS (not unigrams — the standard
    // bigram-normalized form), N1+(prev,·) = distinct continuations of
    // prev, and the continuation probability N1+(·,w) rewards words seen
    // in many CONTEXTS rather than many times ("reading Francisco" is
    // frequent but only ever after "San"). d = 0.75 is exact in binary
    // (3/4), every count is integral, and the formula is written with the
    // same association order on both engines, so the fixed-point rounding
    // discipline carries the row hash-exact like its Laplace sibling.
    QueryDef(
      "x_kn_bigram_surprisal",
      (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d)
          .select($"doc_id", split($"text", " ").as("t"))
        val bg = toks.filter(size($"t") >= 2)
          .select($"doc_id", explode(transform(
            sequence(lit(1), size($"t") - 1),
            i => struct(element_at($"t", i).as("prev"),
              element_at($"t", i + 1).as("w")))).as("b"))
          .select($"doc_id", $"b.prev".as("prev"), $"b.w".as("w"))
        val cbg = bg.groupBy($"prev", $"w").agg(count(lit(1)).as("c2"))
        val starts = cbg.groupBy($"prev")
          .agg(sum($"c2").as("c1"), count(lit(1)).as("n1p_fwd"))
        val cont = cbg.groupBy($"w").agg(count(lit(1)).as("n1p_bwd"))
        val totb = cbg.agg(count(lit(1)).as("tb"))
        bg.join(cbg, Seq("prev", "w"))
          .join(starts, Seq("prev"))
          .join(cont, Seq("w"))
          .crossJoin(broadcast(totb))
          .select($"doc_id",
            round(-log(
              greatest($"c2" - 0.75d, lit(0.0d)) / $"c1" +
                (lit(0.75d) * $"n1p_fwd" / $"c1") *
                  ($"n1p_bwd".cast("double") / $"tb")) * 1e6, 0)
              .cast("long").as("fx"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum($"fx").as("sfx"))
          .select($"doc_id", $"n_bigrams",
            round($"sfx".cast("double") / 1e6 / $"n_bigrams", 4)
              .as("avg_surprisal"))
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        bg0 AS (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, len(t) - 1),
            i -> {'prev': t[i], 'w': t[i+1]})) AS b
          FROM toks WHERE len(t) >= 2),
        bg AS (SELECT doc_id, b.prev AS prev, b.w AS w FROM bg0),
        cbg AS (SELECT prev, w, COUNT(*) AS c2 FROM bg GROUP BY prev, w),
        starts AS (
          SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1, COUNT(*) AS n1p_fwd
          FROM cbg GROUP BY prev),
        cont AS (SELECT w, COUNT(*) AS n1p_bwd FROM cbg GROUP BY w),
        totb AS (SELECT COUNT(*) AS tb FROM cbg),
        fx AS (
          SELECT g.doc_id,
            CAST(round(-ln(
              greatest(c.c2 - 0.75, 0.0) / s.c1 +
                (0.75 * s.n1p_fwd / s.c1) *
                  (CAST(o.n1p_bwd AS DOUBLE) / totb.tb)) * 1000000)
              AS BIGINT) AS fx
          FROM bg g JOIN cbg c USING (prev, w)
          JOIN starts s ON s.prev = g.prev
          JOIN cont o ON o.w = g.w, totb)
        SELECT doc_id, COUNT(*) AS n_bigrams,
          round(CAST(SUM(fx) AS DOUBLE) / 1000000 / COUNT(*), 4) AS avg_surprisal
        FROM fx GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Per-document token entropy (lexical-diversity quality signal) -----
    // Shannon entropy of each doc's token distribution:
    // H = -Σ_t (c_t/n)·ln(c_t/n). Low entropy = repetitive/boilerplate
    // (complements TTR and the gopher-repetition fractions with an
    // information-theoretic view). Fixed-point discipline: each TERM is
    // rounded to a 1e9 long FIRST, then integer-summed per doc — the sum
    // is order-independent, so the distributed groupBy bit-matches the
    // oracle regardless of partitioning (the x_unigram_surprisal
    // contract). Scale shape: one (doc, token) count shuffle + one doc
    // sum — linear in corpus tokens, no corpus-wide state.
    QueryDef(
      "x_token_entropy",
      (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d)
          .select($"doc_id", explode(split($"text", " ")).as("tok"))
        val counts = toks.groupBy($"doc_id", $"tok")
          .agg(count(lit(1)).as("c"))
        val totals = toks.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val r = counts.join(totals, "doc_id")
          .select($"doc_id",
            ($"c".cast("double") / $"n").as("p"))
          .select($"doc_id",
            round(-log($"p") * $"p" * lit(1e9), 0).cast("long").as("term_fp"))
        r.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_types"), sum($"term_fp").as("entropy_fp"))
          .orderBy($"doc_id")
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok
          GROUP BY doc_id, tok),
        tot AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        term AS (
          SELECT c.doc_id,
            CAST(round(-ln(CAST(c.c AS DOUBLE) / t.n)
              * (CAST(c.c AS DOUBLE) / t.n) * 1000000000.0) AS BIGINT) AS fp
          FROM cnt c JOIN tot t USING (doc_id))
        SELECT doc_id, COUNT(*) AS n_types,
          CAST(SUM(fp) AS BIGINT) AS entropy_fp
        FROM term GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Shingle novelty (ingestion-order redundancy curve) ----------------
    // For each doc, the fraction of its distinct 3-shingles it is the
    // FIRST (lowest doc_id) to contribute — the marginal-novelty signal a
    // curation pass uses to see where a corpus stops adding content
    // (clones score 0 unless they are the group's first; boilerplate
    // drags every later doc down). Pure integers: shingle → min(doc_id)
    // owner, one equi-join back, fixed-point ratio. Scale shape: one
    // shingle-keyed min-aggregation (map-side partial min) + one
    // doc-keyed count — linear in corpus shingles, same key family as
    // span dedup.
    QueryDef(
      "x_novelty",
      (s, d) => {
        import s.implicits._
        // CACHED: both the first-owner aggregation and the join back read
        // the exploded shingle set, and the shingle construction (split +
        // transform + concat_ws per doc) is the dominant cost — deriving
        // it twice doubled the query (the r13 graph-cache lesson; measured
        // 9.6s → ~4s at sf0.1)
        val sh = Tables.documents(s, d)
          .filter(size(split($"text", " ")) >= 3)
          .select($"doc_id",
            explode(graft.ext.MinHashDedup.shingles($"text")).as("s"))
          .cache()
        val first = sh.groupBy($"s").agg(min($"doc_id").as("first_doc"))
        sh.join(first, "s")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
              .as("n_novel"))
          .select($"doc_id", $"n_shingles", $"n_novel",
            expr("(n_novel * 1000000) div n_shingles").as("novelty_fp"))
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 0)),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM toks),
        first AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
        SELECT sh.doc_id, COUNT(*) AS n_shingles,
          CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
          (CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) * 1000000) // COUNT(*) AS novelty_fp
        FROM sh JOIN first f USING (s)
        GROUP BY sh.doc_id ORDER BY sh.doc_id""")),

    // ---- Winnow-pruned shingle novelty (the sketch-rate scale form) --------
    // r19 verdict item 5: x_novelty was the 10× sweep's second-worst
    // factor (6.44×) — its shingle-keyed min-aggregation and join-back
    // shuffle EVERY distinct (doc, shingle) row, a volume that grows
    // with corpus tokens. This form runs the SAME first-owner novelty
    // protocol over each doc's WINNOW FINGERPRINT set instead
    // (x_winnow_fingerprints' w=4 window minima over positional 3-gram
    // md5 hashes): the shuffled volume drops to the winnow rate
    // (≈ 2/(w+1) of positions, distinct-collapsed) and the keys are
    // 8-byte longs instead of shingle strings. APPROXIMATE by design —
    // novelty is estimated over a deterministic locality-sensitive
    // SAMPLE of each doc's shingles (any shared run ≥ w+k−1 = 6 tokens
    // is guaranteed represented; lone shared 3-grams may not be) — but
    // the sample is md5-deterministic, so every row is hash-exact
    // oracle data, and clone/boilerplate suppression behaves like the
    // exact form (clones share ALL fingerprints). The exact gate stays
    // the semantics anchor; 10×/100× walls for both probed in
    // r20_curation_pruned.
    QueryDef(
      "x_novelty_pruned",
      (s, d) => {
        import s.implicits._
        val w = 4
        val docs = Tables.documents(s, d)
          .withColumn("toks", split($"text", " "))
          .filter(size($"toks") >= 3)
        // positional 3-gram hashes, then window minima — the `h`
        // projection is a separate select so the window lambda reads a
        // bound attribute (the x_winnow interpreted-HOF rationale)
        val hashes = docs.select($"doc_id", transform(
          sequence(lit(1), greatest(size($"toks") - 2, lit(1))),
          i => shiftrightunsigned(graft.functions.Md5Hash64.md5_le64(
            concat_ws(" ", element_at($"toks", i),
              element_at($"toks", i + 1), element_at($"toks", i + 2))), 4))
          .as("h"))
        val fps = hashes.select($"doc_id", explode(array_distinct(
          transform(sequence(lit(1), greatest(size($"h") - w + 1, lit(1))),
            j => array_min(slice($"h", j, lit(w)))))).as("fp"))
          .localCheckpoint(true) // first-owner agg + join-back both read it
        val first = fps.groupBy($"fp").agg(min($"doc_id").as("first_doc"))
        fps.join(first, "fp")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_fps"),
            sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
              .as("n_novel"))
          .select($"doc_id", $"n_fps", $"n_novel",
            expr("(n_novel * 1000000) div n_fps").as("novelty_fp"))
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        hs AS (
          SELECT doc_id, list_transform(
            generate_series(1, greatest(len(t) - 2, 1)),
            i -> CAST(md5_number_upper(
              concat_ws(' ', t[i], t[i+1], t[i+2])) >> 4 AS BIGINT)) AS h
          FROM toks),
        fps AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(h) - 4 + 1, 1)),
            j -> list_aggregate(h[j:j+3], 'min')))) AS fp
          FROM hs),
        first AS (SELECT fp, MIN(doc_id) AS first_doc FROM fps GROUP BY fp)
        SELECT fps.doc_id, COUNT(*) AS n_fps,
          CAST(SUM(CASE WHEN f.first_doc = fps.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
          (CAST(SUM(CASE WHEN f.first_doc = fps.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) * 1000000) // COUNT(*) AS novelty_fp
        FROM fps JOIN first f USING (fp)
        GROUP BY fps.doc_id ORDER BY fps.doc_id""")),

    // ---- PMI collocations (adjacent-bigram association mining) -------------
    // Pointwise mutual information for adjacent token pairs:
    // pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) from the bigram
    // count over all Nb adjacent pairs and p(·) from unigram counts over
    // all Nu tokens. The ratio is assembled as ONE double expression with
    // identical association on both engines and passed through a single
    // ln rounded into 1e-6 fixed point (the x_unigram_surprisal contract,
    // same Math.log-vs-libm residual tie-boundary caveat); min-support
    // c_ab ≥ 5, top-20 by (pmi, a, b) — the fixed-point long orders, so
    // ties are exact. Scale shape: two token-keyed groupBy counts
    // (map-side partial), two vocabulary equi-joins, 1-row totals joined
    // broadcast, TakeOrdered top-k — the collocation-extraction pass of a
    // phrase-mining pipeline, no all-pairs anywhere.
    QueryDef(
      "x_pmi_bigrams",
      (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d)
          .select($"doc_id", split($"text", " ").as("toks"))
        val uni = toks.select(explode($"toks").as("t"))
        val uniCnt = uni.groupBy($"t").agg(count(lit(1)).as("c"))
        val uniTot = uni.agg(count(lit(1)).as("nu"))
        val bi = toks
          .select(explode(expr(
            """transform(slice(toks, 1, size(toks) - 1),
              |  (t, i) -> struct(t AS a, toks[i + 1] AS b))""".stripMargin))
            .as("p"))
          .select($"p.a", $"p.b")
        val biCnt = bi.groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
        val biTot = bi.agg(count(lit(1)).as("nb"))
        biCnt.filter($"cab" >= 5)
          .join(uniCnt.select($"t".as("a"), $"c".as("ca")), Seq("a"))
          .join(uniCnt.select($"t".as("b"), $"c".as("cb")), Seq("b"))
          .crossJoin(broadcast(uniTot))
          .crossJoin(broadcast(biTot))
          .select($"a", $"b", $"cab",
            round(log($"cab".cast("double") * $"nu" * $"nu" /
              ($"nb".cast("double") * $"ca" * $"cb")) * 1e6, 0)
              .cast("long").as("pmi_fp"))
          .orderBy($"pmi_fp".desc, $"a", $"b")
          .limit(20)
          .select($"a", $"b", $"cab",
            round($"pmi_fp".cast("double") / 1e6, 6).as("pmi"))
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        uni AS (SELECT unnest(toks) AS t FROM toks),
        uc AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
        ut AS (SELECT COUNT(*) AS nu FROM uni),
        bi AS (SELECT unnest(list_transform(
            generate_series(1, greatest(len(toks) - 1, 0)),
            i -> struct_pack(a := toks[i], b := toks[i+1]))) AS p
          FROM toks),
        bp AS (SELECT p.a AS a, p.b AS b FROM bi),
        bc AS (SELECT a, b, COUNT(*) AS cab FROM bp GROUP BY a, b),
        bt AS (SELECT COUNT(*) AS nb FROM bp),
        scored AS (
          SELECT bc.a, bc.b, bc.cab,
            CAST(round(ln(CAST(bc.cab AS DOUBLE) * ut.nu * ut.nu /
              (CAST(bt.nb AS DOUBLE) * ua.c * ub.c)) * 1000000)
              AS BIGINT) AS pmi_fp
          FROM bc
          JOIN uc ua ON bc.a = ua.t
          JOIN uc ub ON bc.b = ub.t, ut, bt
          WHERE bc.cab >= 5)
        SELECT a, b, cab, round(CAST(pmi_fp AS DOUBLE) / 1000000, 6) AS pmi
        FROM scored ORDER BY pmi_fp DESC, a, b LIMIT 20""")),

    // ---- Perceptual image dedup: dHash clusters over REAL decoded BMPs -----
    // The image-granularity near-dup primitive: synthesize 24bpp BMPs from
    // id-derived pixel formulas (6 scene patterns × 2 brightness variants,
    // the m_media_meta_real fixture discipline), push them through the
    // REAL decode → 8×8 nearest-resample → 56-bit difference-hash kernel
    // (Multimodal.imageDHash), and cluster by hash. dHash is invariant to
    // uniform brightness shifts (neighbor differences cancel them), so the
    // +10-brightness re-encodes — byte-wise DIFFERENT files — land in
    // their scene's cluster: each of the 6 clusters holds 10 images that
    // byte-hash dedup would treat as 60 distinct. The oracle recomputes
    // every hash closed-form from event_id (integer luminance numerators,
    // identical floor resample), so a hash match proves the full
    // encode → decode → resample → hash pipeline bit-exact. Scale shape:
    // map-only decode+hash (bytes never shuffle), then an 8-byte-hash
    // groupBy — d_exact_dedup's shape at image granularity.
    QueryDef(
      "m_image_dhash",
      (s, d) => {
        import s.implicits._
        val media = Tables.events(s, d).filter($"event_id" < 60)
          .select($"event_id").as[Long]
          .map { id =>
            val p = (id % 6).toInt
            val v = ((id / 6) % 2).toInt
            val w = 8 + p % 5
            val h = 6 + p % 3
            // multipliers chosen to WRAP mod 200 inside the grid so
            // neighbor-luminance differences change sign (a non-wrapping
            // ramp makes every dHash bit 1 and all scenes collide)
            graft.ext.Multimodal.MediaRow(id, "bmp",
              graft.ext.MediaCodecs.writeBmp24(w, h, (x, y) => (
                (x * 53 + y * 31 + p * 41) % 200 + v * 10,
                (x * 47 + y * 59 + p * 23) % 200 + v * 10,
                (x * 61 + y * 43 + p * 37) % 200 + v * 10)))
          }
        graft.ext.Multimodal.imageDHash(media)
          .groupBy($"dhash")
          .agg(count(lit(1)).as("n_images"),
            min($"media_id").as("min_id"),
            max($"media_id").as("max_id"))
          .orderBy($"dhash")
      },
      Some("""WITH ids AS (SELECT event_id AS id,
          CAST(event_id % 6 AS BIGINT) AS p,
          CAST((event_id // 6) % 2 AS BIGINT) AS v
        FROM events WHERE event_id < 60),
        gx AS (SELECT unnest(generate_series(0, 7)) AS gx),
        gy AS (SELECT unnest(generate_series(0, 7)) AS gy),
        cell AS (SELECT id, p, v, gx.gx, gy.gy,
            8 + p % 5 AS w, 6 + p % 3 AS h
          FROM ids, gx, gy),
        lum AS (SELECT id, gx, gy,
            299*((sx*53 + sy*31 + p*41) % 200 + v*10)
          + 587*((sx*47 + sy*59 + p*23) % 200 + v*10)
          + 114*((sx*61 + sy*43 + p*37) % 200 + v*10) AS l
          FROM (SELECT *, (gx * w) // 8 AS sx, (gy * h) // 8 AS sy
                FROM cell)),
        bits AS (SELECT a.id, a.gy * 7 + a.gx AS k
          FROM lum a JOIN lum b
            ON a.id = b.id AND a.gy = b.gy AND b.gx = a.gx + 1
          WHERE a.gx < 7 AND b.l > a.l),
        dh AS (SELECT i.id,
            CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(k AS INTEGER)), 0)
              AS BIGINT) AS dhash
          FROM ids i LEFT JOIN bits ON i.id = bits.id GROUP BY i.id)
        SELECT dhash, COUNT(*) AS n_images, MIN(id) AS min_id,
          MAX(id) AS max_id
        FROM dh GROUP BY dhash ORDER BY dhash""")),

    // ---- Perceptual audio dedup: gain-invariant fingerprint clusters -------
    // The audio analogue of m_image_dhash: synthesize PCM16 WAVs from
    // id-derived closed-form samples (6 signal patterns × 2 gain
    // variants g ∈ {1, 2}), decode through the REAL RIFF parser, hash
    // frame-energy deltas (Multimodal.audioFingerprint — 33 frames of 25
    // samples → 32 bits), cluster by fingerprint. Energy scales by g²
    // under gain, comparisons don't: the ×2-gain re-masters — byte-wise
    // different files — land in their signal's cluster (6 clusters of
    // 10). Everything is integer (samples, squared-energy Longs), so the
    // oracle recomputes every fingerprint closed-form from event_id and
    // the match proves encode → decode → frame-energy → hash bit-exact.
    QueryDef(
      "m_audio_fingerprint",
      (s, d) => {
        import s.implicits._
        val media = Tables.events(s, d).filter($"event_id" < 60)
          .select($"event_id").as[Long]
          .map { id =>
            val p = (id % 6).toInt
            val g = 1 + ((id / 6) % 2).toInt
            // wraps mod 16001 keep frame energies non-monotonic; scene
            // multiplier 307 separates all 6 patterns (tested)
            val samples = Array.tabulate(825) { i =>
              ((((i.toLong * i * 7 + i * 13 + p * 307) % 16001L) - 8000L)
                * g).toShort
            }
            graft.ext.Multimodal.MediaRow(id, "wav",
              graft.ext.MediaCodecs.writeWavPcm16(8000, samples))
          }
        graft.ext.Multimodal.audioFingerprint(media)
          .groupBy($"fingerprint")
          .agg(count(lit(1)).as("n_clips"),
            min($"media_id").as("min_id"),
            max($"media_id").as("max_id"))
          .orderBy($"fingerprint")
      },
      Some("""WITH ids AS (SELECT event_id AS id,
          CAST(event_id % 6 AS BIGINT) AS p,
          1 + (event_id // 6) % 2 AS g
        FROM events WHERE event_id < 60),
        smp AS (SELECT id, i,
            ((i*i*7 + i*13 + p*307) % 16001 - 8000) * g AS s
          FROM ids, (SELECT unnest(generate_series(0, 824)) AS i)),
        e AS (SELECT id, i // 25 AS f, SUM(s * s) AS en
          FROM smp GROUP BY id, i // 25),
        bits AS (SELECT a.id, a.f AS k
          FROM e a JOIN e b ON a.id = b.id AND b.f = a.f + 1
          WHERE a.f < 32 AND b.en > a.en),
        fp AS (SELECT i.id,
            CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(k AS INTEGER)), 0)
              AS BIGINT) AS fingerprint
          FROM ids i LEFT JOIN bits ON i.id = bits.id GROUP BY i.id)
        SELECT fingerprint, COUNT(*) AS n_clips, MIN(id) AS min_id,
          MAX(id) AS max_id
        FROM fp GROUP BY fingerprint ORDER BY fingerprint""")),

    // ---- Perceptual video dedup: per-frame dHash over animated GIF ---------
    // The video arm of the perceptual-dedup triad (image dHash / audio
    // fingerprint / this): synthesize animated GIFs (4 scene patterns ×
    // 2 palette-brightness variants, 2-3 frames each), decode every frame
    // through the REAL LZW decoder (lossless — unlike MJPEG, frame pixels
    // are exact, so the gate can be hash-exact rather than a bounded
    // boolean), dHash each frame (Multimodal.videoDHash), and identify
    // each video by the md5 of its ORDERED frame-hash sequence. A uniform
    // +10 palette shift changes every byte of the file but no dHash, so
    // the 2 brightness variants collapse: 4 clusters of 12. The oracle
    // rebuilds every frame hash closed-form from event_id (palette and
    // index formulas are integer) and aggregates the same ordered string.
    QueryDef(
      "m_video_dhash",
      (s, d) => {
        import s.implicits._
        val media = Tables.events(s, d).filter($"event_id" < 48)
          .select($"event_id").as[Long]
          .map { id =>
            val p = (id % 4).toInt
            val v = ((id / 4) % 2).toInt
            val nF = 2 + p % 2
            val palette = Array.tabulate(16) { c =>
              val r = (c * 37 + p * 11) % 200 + v * 10
              val g = (c * 53 + p * 7) % 200 + v * 10
              val b = (c * 29 + p * 3) % 200 + v * 10
              (r << 16) | (g << 8) | b
            }
            val frames = (0 until nF).map(f => Array.tabulate(16 * 12) { i =>
              val x = i % 16
              val y = i / 16
              ((x * 5 + y * 3 + f * 7 + p * 2) % 16).toByte
            })
            graft.ext.Multimodal.MediaRow(id, "gif",
              graft.ext.GifCodec.writeGifAnimated(16, 12, palette, frames, 4))
          }
        graft.ext.Multimodal.videoDHash(media)
          .groupBy($"media_id")
          .agg(count(lit(1)).as("n_frames"),
            expr("""md5(concat_ws(',',
              transform(array_sort(collect_list(struct(frame_idx, dhash))),
                x -> CAST(x.dhash AS STRING))))""").as("sig"))
          .groupBy($"sig")
          .agg(count(lit(1)).as("n_videos"), min($"n_frames").as("n_frames"),
            min($"media_id").as("min_id"), max($"media_id").as("max_id"))
          .orderBy($"sig")
      },
      Some("""WITH ids AS (SELECT event_id AS id,
          CAST(event_id % 4 AS BIGINT) AS p,
          CAST((event_id // 4) % 2 AS BIGINT) AS v,
          2 + CAST(event_id % 4 AS BIGINT) % 2 AS nf
        FROM events WHERE event_id < 48),
        fr AS (SELECT id, p, v, f FROM ids,
          (SELECT unnest(generate_series(0, 2)) AS f) WHERE f < nf),
        gx AS (SELECT unnest(generate_series(0, 7)) AS gx),
        gy AS (SELECT unnest(generate_series(0, 7)) AS gy),
        lum AS (SELECT id, f, gx, gy,
            299*((idx*37 + p*11) % 200 + v*10)
          + 587*((idx*53 + p*7) % 200 + v*10)
          + 114*((idx*29 + p*3) % 200 + v*10) AS l
          FROM (SELECT fr.id, fr.p, fr.v, fr.f, gx.gx, gy.gy,
              ((gx * 2) * 5 + ((gy * 12) // 8) * 3 + fr.f * 7 + fr.p * 2)
                % 16 AS idx
            FROM fr, gx, gy)),
        bits AS (SELECT a.id, a.f, a.gy * 7 + a.gx AS k
          FROM lum a JOIN lum b
            ON a.id = b.id AND a.f = b.f AND a.gy = b.gy AND b.gx = a.gx + 1
          WHERE a.gx < 7 AND b.l > a.l),
        dh AS (SELECT fr.id, fr.f,
            CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(k AS INTEGER)), 0)
              AS BIGINT) AS dhash
          FROM fr LEFT JOIN bits ON fr.id = bits.id AND fr.f = bits.f
          GROUP BY fr.id, fr.f),
        sig AS (SELECT id, COUNT(*) AS n_frames,
            md5(string_agg(CAST(dhash AS VARCHAR), ',' ORDER BY f)) AS sig
          FROM dh GROUP BY id)
        SELECT sig, COUNT(*) AS n_videos, MIN(n_frames) AS n_frames,
          MIN(id) AS min_id, MAX(id) AS max_id
        FROM sig GROUP BY sig ORDER BY sig"""))
  )
}
