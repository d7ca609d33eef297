package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Using

/** Streaming → relational-database egress with UPSERT semantics, via
  * `foreachBatch`: each micro-batch DELETEs its keys and re-INSERTs the
  * fresh rows inside one transaction per partition. Structured Streaming
  * gives at-least-once batch delivery across failures; an idempotent
  * per-key upsert turns that into EFFECTIVELY-ONCE table state — a
  * replayed batch converges to the same rows instead of duplicating
  * them. This is the production serving-table egress (dashboards, OLTP
  * lookups) beside the exactly-once parquet file sink.
  *
  * The DELETE+INSERT formulation is deliberately portable: every RDBMS
  * supports it (MERGE grammar varies), and on a keyed batch it is
  * exactly upsert. Connections are opened per PARTITION, statements are
  * JDBC-batched — no per-row connection churn, no driver-side collect. */
object JdbcUpsertSink {

  private def sqlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR(255)"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => sys.error(s"JdbcUpsertSink: unsupported column type $other")
  }

  /** Create the target table from the frame's schema if absent. */
  def ensureTable(url: String, table: String, schema: StructType): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val cols = schema.fields.map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ")
      val st = conn.createStatement()
      try st.executeUpdate(s"CREATE TABLE $table ($cols)")
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () } // exists
      finally st.close()
    } finally conn.close()
  }

  /** Upsert one (batch) DataFrame: per partition, one transaction of
    * JDBC-batched DELETE-by-key + INSERT.
    *
    * SINGLE-WRITER BY DESIGN here: embedded Derby's page-level locks
    * deadlock under concurrent DELETE+INSERT writers even on disjoint
    * keys, so the (output-sized) delta is coalesced to one partition. A
    * row-locking server RDBMS (Postgres/MySQL) can parallelize this to N
    * writer partitions split by disjoint key ranges. */
  def upsertBatch(df: DataFrame, url: String, table: String,
      keyCols: Seq[String]): Unit = {
    val schema = df.schema
    require(keyCols.nonEmpty && keyCols.forall(schema.fieldNames.contains),
      s"key columns $keyCols not all present in ${schema.fieldNames.mkString(",")}")
    val delSql = s"DELETE FROM $table WHERE " +
      keyCols.map(k => s"$k = ?").mkString(" AND ")
    val insSql = s"INSERT INTO $table (${schema.fieldNames.mkString(", ")}) " +
      s"VALUES (${schema.fields.map(_ => "?").mkString(", ")})"
    val keyIdx = keyCols.map(schema.fieldIndex)
    // one writer partition: the update-mode batch is a keyed aggregate
    // DELTA (output-sized, small by construction), and embedded Derby's
    // page-level locks deadlock under concurrent DELETE+INSERT writers
    // even on disjoint keys — a server-grade RDBMS with row-level
    // locking can raise this to N disjoint-key writer partitions
    df.coalesce(1).foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) Using.resource(java.sql.DriverManager.getConnection(url)) { conn =>
        conn.setAutoCommit(false)
        try {
          Using.resources(conn.prepareStatement(delSql), conn.prepareStatement(insSql)) {
            (del, ins) =>
              rows.foreach { r =>
                keyIdx.zipWithIndex.foreach { case (ki, pi) =>
                  del.setObject(pi + 1, r.get(ki)) }
                del.addBatch()
                schema.indices.foreach { i =>
                  ins.setObject(i + 1, r.get(i) match {
                    case d: java.math.BigDecimal => d
                    case bd: scala.math.BigDecimal => bd.bigDecimal
                    case x => x
                  })
                }
                ins.addBatch()
              }
              del.executeBatch(); ins.executeBatch()
          }
          conn.commit()
        } catch {
          // roll back before the connection closes: closing it with the
          // transaction open throws (Derby SQLState 25001), and that
          // error would replace this one
          case e: Throwable =>
            try conn.rollback() catch { case r: java.sql.SQLException => e.addSuppressed(r) }
            throw e
        }
      }
    }
  }

  /** Run a streaming aggregation over the events file and upsert every
    * micro-batch into a JDBC table (update output mode: only changed
    * keys flow per batch). Fresh checkpoint per invocation — re-running
    * replays the source, and the upsert converges to identical table
    * state (the idempotency contract the gate asserts by running it
    * TWICE). Returns the table read back through the JDBC source. */
  def runEventCountsToJdbc(spark: SparkSession, parquetPath: String,
      url: String, table: String): DataFrame = {
    val plan = EventStreams.streamEvents(spark, parquetPath)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("sumv"))
    ensureTable(url, table, plan.schema)
    EventStreams.drain(plan, "jdbc_upsert", parquetPath, "update", (w, _) =>
      w.foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, url, table, Seq("user_id"))
      })
    spark.read.format("jdbc").option("url", url).option("dbtable", table)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
  }
}
