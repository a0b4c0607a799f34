package graft.parse

import graft.model.ParsedRun
import scala.util.matching.Regex

/** Pure (Spark-free) parsers for the two reference log grammars. Runs inside
  * one Spark task per file (file = unit of parallelism — order-sensitive
  * segmentation never crosses files, so the parse path has zero shuffles).
  *
  * Grammar reconstructed from the reference's regexes — see FIXTURES.md §1/§2
  * and SURVEY.md §2.5. Intended-behavior decisions (SURVEY.md §0):
  *  - summary regex is real alternation `(SUCCESS|FAILURE) at generation N`,
  *    not the reference's accidental character class (src/db_loader.clj:205);
  *  - exactly one summary row per run (src/db_loader.clj:204-218 intended).
  */
object LogParser {

  /** `seq-split` (reference src/db_loader.clj:54-63): partition an ordered
    * line sequence into segments at delimiter lines; delimiters are dropped
    * and empty segments are suppressed.
    */
  def seqSplit(lines: Seq[String], delim: Regex): Vector[Vector[String]] = {
    val out = Vector.newBuilder[Vector[String]]
    var cur = Vector.newBuilder[String]
    var curNonEmpty = false
    lines.foreach { l =>
      if (delim.findFirstIn(l).isDefined) {
        if (curNonEmpty) out += cur.result()
        cur = Vector.newBuilder[String]; curNonEmpty = false
      } else { cur += l; curNonEmpty = true }
    }
    if (curNonEmpty) out += cur.result()
    out.result()
  }

  // ---- Clojush grammar (reference src/db_loader.clj:228-243) --------------

  private val clojushDelim: Regex = ";+\\s*$".r
  private val genMarker: Regex = "-\\*-".r
  private val trailingInt: Regex = "(\\d+)\\s*$".r
  private val summaryLine: Regex = "(SUCCESS|FAILURE) at generation (\\d+)".r

  /** Is this line a Clojush segment delimiter? Shared by [[parseClojush]]
    * and the chunked big-file path (BigLogParse) so segmentation cannot
    * diverge between them. */
  private[parse] def isClojushDelim(line: String): Boolean =
    clojushDelim.findFirstIn(line).isDefined

  /** Header segment → kv pairs: lines containing " = " (reference :230);
    * unlimited split + keep only exact 2-part results — a line with multiple
    * " = " separators yields >2 parts and is dropped, as in the reference
    * (:140). Unlimited split carries Java/Clojure string/split semantics:
    * TRAILING empty strings are discarded, so "k = " drops (1 part) and
    * "k = v = " keeps (k, v) — both faithful to clojure.string/split.
    */
  private[parse] def headerKvs(seg: Seq[String], skipNils: Boolean): Vector[(String, String)] =
    seg.iterator
      .filter(_.contains(" = "))
      .map(_.split(" = "))
      .collect { case Array(k, v) => (k.trim, v.trim) }
      .filter { case (k, v) => k.nonEmpty && (!skipNils || v != "nil") }
      .toVector

  /** Generation segment → (gennum, kvs) if it contains a -*- marker line
    * ending in the gen number (reference :171,231-232); other lines are
    * "param: value" (:175). */
  private[parse] def genOf(seg: Seq[String], skipNils: Boolean): Option[(Int, Vector[(String, String)])] =
    seg.find(l => genMarker.findFirstIn(l).isDefined).flatMap { marker =>
      trailingInt.findFirstMatchIn(marker).map(_.group(1).toInt)
    }.map { gennum =>
      val kvs = seg.iterator
        .filter(l => genMarker.findFirstIn(l).isEmpty)
        .map(_.split(": ")) // unlimited split; >2 parts dropped below (:140,175)
        .collect { case Array(k, v) => (k.trim, v.trim) }
        .filter { case (k, v) => k.nonEmpty && (!skipNils || v != "nil") }
        .toVector
      (gennum, kvs)
    }

  /** (success?, maxgen) if the line matches the summary grammar
    * (intended semantics of reference :204-209). */
  private[parse] def summaryOf(line: String): Option[(Boolean, Int)] =
    summaryLine.findFirstMatchIn(line)
      .map(m => (m.group(1) == "SUCCESS", m.group(2).toInt))

  /** Parse one Clojush log (reference src/db_loader.clj:228-243).
    *
    * @param skipNils drop params whose trimmed value is the literal "nil"
    *                 (reference src/db_loader.clj:43,141-143,176-177)
    */
  def parseClojush(content: String, skipNils: Boolean = true): ParsedRun = {
    // \r?\n: CRLF logs must parse identically wholetext vs chunked —
    // Hadoop's line reader strips \r\n, and a bare-\n split here would
    // leave the \r inside every value (clojure.string/split-lines, the
    // reference's reader, also treats \r\n as a line break).
    // KNOWN DIVERGENCE (lone \r, no following \n): this path — like the
    // reference's split-lines — keeps a bare CR inside the line, while the
    // chunked path (BigLogParse, Hadoop LineReader) treats it as a line
    // terminator. Wholetext is canonical; the divergence is pinned by
    // BigFileParitySpec's lone-CR test so a behavior change is loud.
    val lines = content.split("\r?\n", -1).toIndexedSeq
    val segs = seqSplit(lines, clojushDelim)

    val header = headerKvs(segs.headOption.getOrElse(Vector.empty), skipNils)

    val clojushVersion = header.collectFirst {
      case (k, v) if k == "Clojush version" => v
    }

    val gens = segs.drop(1).flatMap(genOf(_, skipNils))

    // summary: first (SUCCESS|FAILURE) at generation N anywhere after header
    val summary = segs.drop(1).flatMap(_.iterator).iterator
      .map(summaryOf)
      .collectFirst { case Some(s) => s }

    ParsedRun(header.toVector, gens.toVector, summary, clojushVersion)
  }

  /** uuid = token after the last '_', before the extension
    * (reference src/db_loader.clj:273,283). */
  def uuidFromFilename(path: String): Option[String] = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    val base = name.indexOf('.') match {
      case -1 => name
      case i  => name.substring(0, i)
    }
    val u = base.lastIndexOf('_')
    if (u >= 0 && u < base.length - 1) Some(base.substring(u + 1)) else None
  }

  // ---- ECJ grammar (reference src/parse_logs_ecj.clj:89-123) --------------

  private val ecjMarker: Regex = "Generation:|of Run:".r

  /** Is this line an ECJ group marker? Shared by [[ecjReadGen]] and the
    * chunked big-file path (BigLogParse.ecjGenerations). */
  private[parse] def isEcjMarker(line: String): Boolean =
    ecjMarker.findFirstIn(line).isDefined

  /** `read-gen` (reference :89-105): a marker line *starts* a new group and is
    * kept as its head; pre-marker preamble lines are dropped.
    */
  def ecjReadGen(lines: Seq[String]): Vector[Vector[String]] = {
    val out = Vector.newBuilder[Vector[String]]
    var cur: scala.collection.mutable.Builder[String, Vector[String]] = null
    lines.foreach { l =>
      if (isEcjMarker(l)) {
        if (cur != null) out += cur.result()
        cur = Vector.newBuilder[String]; cur += l
      } else if (cur != null) cur += l
    }
    if (cur != null) out += cur.result()
    out.result()
  }

  /** `group-gen` (reference :107-116): a line without ':' is a continuation of
    * the previous line's value — space-joined (un-wraps overflowed values).
    */
  def ecjMergeContinuations(group: Seq[String]): Vector[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    group.foreach { l =>
      if (l.contains(":") || out.isEmpty) out += l
      else out(out.length - 1) = out.last + " " + l.trim
    }
    out.toVector
  }

  /** `clean-data` (reference :118-123): keys get all whitespace squeezed out,
    * values trimmed; a key with no value yields null (None here).
    */
  def ecjCleanData(lines: Seq[String]): Vector[(String, Option[String])] =
    lines.map { l =>
      val kv = l.split(":", 2)
      val k = kv(0).replaceAll("\\s+", "")
      val v = if (kv.length > 1) Some(kv(1).trim).filter(_.nonEmpty) else None
      (k, v)
    }.filter(_._1.nonEmpty).toVector

  /** Full ECJ parse: marker-delimited groups of continuation-merged KV pairs. */
  def parseEcj(content: String): Vector[Vector[(String, Option[String])]] = {
    val lines = content.split("\r?\n", -1).toIndexedSeq // CRLF: see parseClojush
    ecjReadGen(lines).map(g => ecjCleanData(ecjMergeContinuations(g)))
  }
}
