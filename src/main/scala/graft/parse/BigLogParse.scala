package graft.parse

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Chunked parse of ONE oversized log (SURVEY.md §7.3 risk #1), Clojush
  * ([[flatRows]]) or ECJ ([[ecjGenerations]]).
  *
  * The preferred path puts a whole file in one task (`wholetext`) — zero
  * shuffles, but a single multi-GB log (the reference's cluster-folder
  * workload, src/parse_logs_ecj.clj:11-18) would skew or OOM that task.
  * This form reads the file as LINE SPLITS (normal Hadoop byte-range
  * parallelism) and reproduces the wholetext parsers' semantics with
  * segment-level — not file-level — parallelism. Steps 1-3 are one pass
  * both formats share ([[segmented]], [[segments]]); a format supplies
  * only its break line and whether the break is kept:
  *
  *  1. one no-shuffle counting pass gives per-split (line, break) counts
  *     plus the segment of the first non-break line (Clojush's header);
  *     prefix sums turn the counts into global offsets (the zipWithIndex
  *     trick — no global window, nothing funnels through one task);
  *  2. a second pass assigns each line its global lineno and segment id
  *     (cumulative break count); Clojush drops its delimiter lines, ECJ
  *     keeps its marker line as the group head;
  *  3. lines group+sort by segment (shuffle keyed on segment — the unit of
  *     parallelism, so a 10M-generation log spreads over the cluster) and
  *     each segment runs the SAME pure per-segment parsers as the
  *     wholetext path (LogParser.headerKvs/genOf, ecjMergeContinuations →
  *     ecjCleanData) — semantics shared by construction, pinned by
  *     BigFileParitySpec;
  *  4. the Clojush summary is the first grammar match after the header
  *     segment: a regex filter + TakeOrdered(1) on lineno.
  *
  * seqSplit's empty-segment suppression falls out naturally: an empty
  * segment simply has no rows, and the header is the FIRST segment with
  * rows (min seg == seg of min lineno, since seg is nondecreasing).
  * Cost: three scans of the one big file (count, summary, parse), all
  * narrow and shuffle-free up to the segment-keyed grouping.
  *
  * KNOWN DIVERGENCE: Hadoop's LineReader treats a LONE \r (no following
  * \n) as a line terminator, while the wholetext path — matching the
  * reference's clojure.string/split-lines — splits on \r?\n only and keeps
  * a bare CR inside the line. A log containing isolated CRs therefore
  * parses differently here than wholetext (pinned by BigFileParitySpec's
  * lone-CR test). Not normalizable on this side: the reader splits before
  * this code sees the bytes. Logs with bare CRs do not occur in the
  * reference workload; wholetext is the canonical behavior.
  */
object BigLogParse {

  /** FlatRow pieces (LogPipeline's single-pass cache format) for one big
    * file — unioned by `LogPipeline.dispatch` with the wholetext-parsed rest.
    *
    * A `.gz` log is unsplittable: it decompresses into ONE split here
    * (correct, parity-tested), so a multi-GB gzipped log still serializes
    * its line scan through one task — though unlike wholetext the
    * DOWNSTREAM segment parsing still spreads over the cluster, and the
    * per-line iterator never materializes the whole file as one string.
    * Store oversized logs uncompressed (or as bgzip/multiple files) to get
    * byte-range parallelism.
    *
    * @param path the file as `_metadata.file_path` renders it
    *        (LogPipeline.renderPath); stored as given, decoded to read
    * @param minPartitions minimum line-split count (exposed so tests can
    *        force multi-split reads on small fixtures; gz stays 1 split)
    */
  def flatRows(
      spark: SparkSession,
      path: String,
      id: Long,
      mtime: String,
      cfg: LogPipeline.LoadConfig,
      minPartitions: Int = 0): Dataset[LogPipeline.FlatRow] = {
    import spark.implicits._
    val skipNils = cfg.skipNils

    val (seged, headerSegOpt) = segmented(spark, path, minPartitions,
      LogParser.isClojushDelim, keepBreaks = false)
    val fileRow = LogPipeline.FlatRow(
      id, 0, 0, "", "", path, mtime, "", successp = false)
    val headerSeg = headerSegOpt.getOrElse {
      return Seq(fileRow).toDS() // empty / all-delimiter file: header row only
    }

    // summary: first grammar match strictly after the header segment —
    // segs.drop(1).flatten order IS global lineno order (header = min seg)
    val summaryRow = seged
      .filter($"seg" > headerSeg &&
        $"text".rlike("(SUCCESS|FAILURE) at generation \\d+"))
      .orderBy($"lineno").limit(1)
      .as[(Long, Long, String)].collect().headOption
      .flatMap { case (_, _, line) => LogParser.summaryOf(line) }
      .map { case (s, maxgen) =>
        LogPipeline.FlatRow(id, 3, maxgen, "", "", "", "", "", successp = s) }

    // per-segment parse: sorted lines through the SAME pure helpers the
    // wholetext path uses; segments are generation-sized, so the grouped
    // row stays small no matter how big the file is
    val segParsed = segments(seged).as[(Long, Seq[String])]
      .flatMap { case (seg, texts) =>
        if (seg == headerSeg) {
          val kvs = LogParser.headerKvs(texts, skipNils)
          val version = kvs.collectFirst {
            case (k, v) if k == "Clojush version" => v }.getOrElse("")
          Iterator.single(fileRow.copy(version = version)) ++
            kvs.iterator.map { case (k, v) =>
              LogPipeline.FlatRow(id, 1, 0, k, v, "", "", "", successp = false) }
        } else {
          LogParser.genOf(texts, skipNils).iterator
            .flatMap { case (gennum, kvs) =>
              kvs.iterator.map { case (k, v) =>
                LogPipeline.FlatRow(id, 2, gennum, k, v, "", "", "",
                  successp = false) } }
        }
      }

    summaryRow match {
      case Some(s) => segParsed.union(Seq(s).toDS())
      case None    => segParsed
    }
  }

  /** Chunked ECJ generations for one oversized stat file (the reference's
    * actual multi-GB workload, src/parse_logs_ecj.clj:11-18): ECJ groups
    * START at a marker line which is KEPT as the group head, and
    * pre-marker preamble is dropped (LogParser.ecjReadGen semantics).
    * Continuations that straddle a byte-range split merge correctly
    * because grouping happens first. Emits (expid, gennum, parameter,
    * value) rows.
    */
  def ecjGenerations(
      spark: SparkSession,
      path: String,
      expid: Long,
      minPartitions: Int = 0): Dataset[(Long, Int, String, String)] = {
    import spark.implicits._
    // group id = number of markers seen so far INCLUDING this line's own;
    // id 0 = preamble before the first marker (dropped, as in ecjReadGen)
    val (seged, _) = segmented(spark, path, minPartitions,
      LogParser.isEcjMarker, keepBreaks = true)
    segments(seged.filter($"seg" > 0)).select($"texts").as[Seq[String]]
      .flatMap { texts =>
        EcjPipeline.genRows(expid,
          LogParser.ecjCleanData(LogParser.ecjMergeContinuations(texts)))
      }
  }

  /** Steps 1-2 above for `path`: the (seg, lineno, text) rows, and the
    * segment of the first non-break line (None: empty or all-break file).
    */
  private def segmented(
      spark: SparkSession,
      path: String,
      minPartitions: Int,
      isBreak: String => Boolean,
      keepBreaks: Boolean): (DataFrame, Option[Long]) = {
    import spark.implicits._
    val rdd = spark.sparkContext.textFile(LogPipeline.hadoopPath(path),
      math.max(minPartitions, spark.sparkContext.defaultMinPartitions))

    // pass 1: per-split (lines, breaks, breaks-before-first-content) — no
    // shuffle, narrow counters
    val counts = rdd.mapPartitionsWithIndex { (pi, it) =>
      var n = 0L; var d = 0L
      var dBefore = -1L // breaks before the first non-break line, if any
      it.foreach { l =>
        n += 1
        if (isBreak(l)) d += 1
        else if (dBefore < 0) dBefore = d
      }
      Iterator.single((pi, n, d, dBefore))
    }.collect().sortBy(_._1)

    val lineOff = new Array[Long](counts.length)
    val segOff = new Array[Long](counts.length)
    var lAcc = 0L; var dAcc = 0L
    counts.foreach { case (pi, n, d, _) =>
      lineOff(pi) = lAcc; segOff(pi) = dAcc; lAcc += n; dAcc += d
    }
    // segment id of the first non-break line anywhere
    val firstContentSeg = counts.collectFirst {
      case (pi, _, _, dBefore) if dBefore >= 0 => segOff(pi) + dBefore
    }

    // pass 2: global (seg, lineno, text); a break line bumps seg, then is
    // kept (heading its segment) or dropped
    val seged = rdd.mapPartitionsWithIndex { (pi, it) =>
      var lineno = lineOff(pi); var seg = segOff(pi)
      it.flatMap { line =>
        lineno += 1
        val isBrk = isBreak(line)
        if (isBrk) seg += 1
        if (isBrk && !keepBreaks) Iterator.empty
        else Iterator.single((seg, lineno, line))
      }
    }.toDF("seg", "lineno", "text")
    (seged, firstContentSeg)
  }

  /** Step 3's grouping: (seg, texts), each segment's lines in line order. */
  private def segments(seged: DataFrame): DataFrame =
    seged.groupBy(col("seg"))
      .agg(array_sort(collect_list(struct(col("lineno"), col("text")))).as("ls"))
      .select(col("seg"), transform(col("ls"), x => x.getField("text")).as("texts"))
}
