package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties

/** JDBC sink (SURVEY.md §2.2 K2–K4): transactional append, dead-letter split,
  * and idempotent upsert.
  *
  *  - K2 append: one transaction per call, the whole table or nothing — the
  *    reference's txn-per-file (src/db_loader.clj:255-258) at table grain.
  *  - K3 dead-letter: the reference appends failing rows to `db.err` and
  *    continues (src/db_loader.clj:161-163,196-198). Distributed form:
  *    validate *before* the write and split into (valid, rejected+reason) —
  *    the rejects-DataFrame pattern — so the write path never throws per-row.
  *  - K4 upsert: the reference shells `mysqlimport --replace`
  *    (scripts/load_csv_to_cloud.sh:130). Spark's JDBC writer has no MERGE,
  *    so each batch of rows is deduplicated on the key columns in a
  *    batch-local map (a repeated key keeps its last row in input order),
  *    then its DELETEs and its INSERTs run in the call's one transaction.
  *
  * Every call is one writer: `df.coalesce(1)` feeds one task and one
  * connection that binds rows by position, runs `executeBatch` batches and
  * commits once, or rolls back. Embedded Derby inserts a table 1.7–2.2× as
  * fast through one connection as through 2–4 concurrent ones (the writer
  * A/B in `BENCH_SCALE.json`). Callers pass tables over a load's cached flat
  * frame, so that task folds only a cache scan and a projection; no shuffle.
  */
object JdbcSink {

  /** Validation rule: name + predicate (true = valid). */
  final case class Rule(name: String, predicate: Column)

  /** Split `df` into (valid, rejected) by the conjunction of rules; rejected
    * rows carry a `reject_reason` column naming the first failed rule.
    */
  def deadLetterSplit(df: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) = {
    val allValid = rules.map(_.predicate).reduce(_ && _)
    val reason = rules.foldRight(lit(null: String)) { (r, acc) =>
      when(!coalesce(r.predicate, lit(false)), lit(r.name)).otherwise(acc)
    }
    val valid = df.filter(coalesce(allValid, lit(false)))
    val rejected = df.filter(!coalesce(allValid, lit(false)))
      .withColumn("reject_reason", reason)
    (valid, rejected)
  }

  /** Transactional append (K2): every row of `df` or, on failure, none. */
  def append(df: DataFrame, url: String, table: String,
      props: Properties = new Properties): Unit =
    write(df, url, props, 500, insertSql(table, df.columns.toSeq), None)

  /** Idempotent upsert (K4): replace-by-key, the exact semantics of the
    * reference's `mysqlimport --replace`, one row per key. Generic
    * DELETE-then-INSERT per batch — works on any JDBC backend; pass
    * `mysqlUpsertSql`/`postgresUpsertSql` output to `upsertWithSql` for a
    * single-statement dialect-native path.
    */
  def upsert(df: DataFrame, url: String, table: String, keyCols: Seq[String],
      batchSize: Int = 500): Unit = {
    require(keyCols.forall(df.columns.contains), s"upsert key not a column: $keyCols")
    val delSql = s"DELETE FROM $table WHERE ${keyCols.map(k => s"$k = ?").mkString(" AND ")}"
    write(df, url, new Properties, batchSize, insertSql(table, df.columns.toSeq),
      Some(delSql -> keyCols.map(df.columns.indexOf(_)).toArray))
  }

  /** Dialect-native single-statement upsert (MySQL/PostgreSQL renderers
    * below), in one transaction. */
  def upsertWithSql(df: DataFrame, url: String, sql: String,
      batchSize: Int = 500): Unit =
    write(df, url, new Properties, batchSize, sql, None)

  /** MySQL dialect (the reference's target): INSERT … ON DUPLICATE KEY UPDATE. */
  def mysqlUpsertSql(table: String, cols: Seq[String], keys: Seq[String]): String = {
    val nonKeys = cols.filterNot(keys.contains)
    s"""INSERT INTO $table (${cols.mkString(", ")})
       |VALUES (${cols.map(_ => "?").mkString(", ")})
       |ON DUPLICATE KEY UPDATE ${nonKeys.map(c => s"$c = VALUES($c)").mkString(", ")}"""
      .stripMargin
  }

  /** PostgreSQL dialect: INSERT … ON CONFLICT DO UPDATE. */
  def postgresUpsertSql(table: String, cols: Seq[String], keys: Seq[String]): String = {
    val nonKeys = cols.filterNot(keys.contains)
    s"""INSERT INTO $table (${cols.mkString(", ")})
       |VALUES (${cols.map(_ => "?").mkString(", ")})
       |ON CONFLICT (${keys.mkString(", ")})
       |DO UPDATE SET ${nonKeys.map(c => s"$c = EXCLUDED.$c").mkString(", ")}"""
      .stripMargin
  }

  private def insertSql(table: String, cols: Seq[String]): String =
    s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"

  /** The one writer loop. Rows buffer in a batch-local map keyed on the
    * `delete` key columns (on their slot in the batch without them), so a
    * batch holds each key once and runs its DELETEs, then its `sql`; the
    * last row of a repeated key wins. One commit at the end. */
  private def write(df: DataFrame, url: String, props: Properties,
      batchSize: Int, sql: String, delete: Option[(String, Array[Int])]): Unit = {
    val all = df.columns.indices.toArray
    df.coalesce(1).foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val ins = new Stmt(conn, sql, all)
          val del = delete.map { case (s, keys) => new Stmt(conn, s, keys) }
          val pending = new java.util.LinkedHashMap[Any, Row]
          def flush(): Unit = {
            (del ++ Seq(ins)).foreach { st =>
              pending.values.forEach(st.add); st.ps.executeBatch()
            }
            pending.clear()
          }
          rows.foreach { row =>
            pending.put(delete.fold[Any](pending.size)(d => d._2.toSeq.map(row.get)), row)
            if (pending.size >= batchSize) flush()
          }
          flush()
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally conn.close()
      }
    }
  }

  /** A prepared statement whose parameters 1.. take the row columns at `pos`;
    * a null binds with its parameter's JDBC type, as the database reports it. */
  private final class Stmt(conn: Connection, sql: String, pos: Array[Int]) {
    val ps: PreparedStatement = conn.prepareStatement(sql)
    private val types = (1 to pos.length).map(ps.getParameterMetaData.getParameterType)
    def add(row: Row): Unit = {
      pos.indices.foreach { i =>
        if (row.isNullAt(pos(i))) ps.setNull(i + 1, types(i))
        else ps.setObject(i + 1, row.get(pos(i)))
      }
      ps.addBatch()
    }
  }
}
