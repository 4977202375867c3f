package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Mirrors the reference's session bring-up (`src/utils/spark.py:18-83`):
  * UTC session timezone, case sensitivity ON (mixed-case source tables,
  * `kafka_to_iceberg.py:80`), CORRECTED parquet rebase modes
  * (`mysql_to_parquet.py:97-98`), and the `SimplifyCasts` optimizer
  * exclusion used by every batch app (`mysql_to_iceberg.py:107`) so the
  * deliberate trim/UTC re-cast projections are never elided.
  *
  * Scale posture: AQE on (runtime coalesce + skew-join splitting),
  * shuffle partitions sized to the local core count rather than the 200
  * default — on a real cluster this would be ~2-3x total executor cores,
  * and AQE coalesces down from there.
  */
object GraftSession {

  def builder(
      appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      excludeSimplifyCasts: Boolean = false): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.caseSensitive", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Generated-class cache (default 100 entries): a multi-step
      // lifecycle compiles many structurally-identical codegen stages
      // and a wide query surface churns a 100-entry LRU straight
      // through, so cold Janino compiles repeat per action. 2000
      // entries keeps a session's working set resident — bounded
      // driver memory, same at any data scale (codegen cost is per
      // plan, not per row).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // events.parquet carries TIMESTAMP(NANOS), which Spark reads only as
      // long under this legacy flag (SparkEntry.table converts back to µs).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // custom Catalyst surface (native expressions, e.g. graft_rolling_hash)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Per-commit committer tax (r14 `Probe <sf> commit`: lifecycle-dense store
      // queries are bounded by the ~110 ms Spark-job floor of each tiny
      // write, not by manifest machinery; a write of rows the driver
      // already holds now skips that floor, see StoreWrite, and these
      // settings apply to the writes that still run as jobs). v2 commits task output
      // straight to the destination dir — atomic-visibility is NOT lost,
      // because every table commit writes to a fresh UUID dir that stays
      // invisible until the snapshot claim references it (a failed job
      // leaves an unreferenced dir for remove_orphan_files). _SUCCESS
      // markers are skipped for the same reason: readers and the
      // footer-stats harvest filter on *.parquet, the marker is one
      // wasted fs op per commit. Direct overwrite sinks outside the
      // store do NOT get this guarantee for free — they must stage
      // into a temp dir and rename (BatchIngest.jdbcToParquet does).
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      // the local file system's permission setting without a chmod
      // fork per created file and directory (see NioLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
    if (excludeSimplifyCasts)
      b.config(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.SimplifyCasts")
    else b
  }

  def getOrCreate(
      appName: String = "graft",
      excludeSimplifyCasts: Boolean = false): SparkSession = {
    val s = builder(appName, excludeSimplifyCasts = excludeSimplifyCasts).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** SQL string-literal escaping for the rare ledger/DDL statements built
  * as text (`watermark.py:255-257`): single quotes are doubled. Prefer
  * parameterized DataFrame rows (the Watermark module does); this exists
  * for callers emitting raw SQL. */
object SqlLiteral {
  def escape(s: String): String = if (s == null) "" else s.replace("'", "''")
  def quote(s: String): String = s"'${escape(s)}'"
}

/** Topic/table naming conventions of the reference
  * (`src/utils/cdc_pipeline.py:259-262,364-368`; `src/mysql_to_iceberg.py:44-51`).
  */
object TableNaming {

  /** Kafka topic `prefix.schema.table` -> (`{service}_{schema}`, `table`),
    * both lowercased (`cdc_pipeline.py:259-262`). */
  def topicToTable(service: String, topic: String): (String, String) = {
    val parts = topic.split('.')
    require(parts.length >= 3, s"topic must be prefix.schema.table: $topic")
    val schema = parts(parts.length - 2).toLowerCase
    val table = parts.last.toLowerCase
    (s"${service.toLowerCase}_$schema", table)
  }

  /** `db.table` (MySQL) -> (`{service}_{db}`, `table`) (`mysql_to_iceberg.py:44-51`). */
  def mysqlSourceToTable(service: String, source: String): (String, String) = {
    val parts = source.split('.')
    require(parts.length == 2, s"source must be db.table: $source")
    (s"${service.toLowerCase}_${parts(0).toLowerCase}", parts(1).toLowerCase)
  }

  /** `db.dbo.table` (SQL Server) -> (`{service}_{db}`, `table`)
    * (`sqlserver_to_iceberg.py:44-48`). */
  def sqlServerSourceToTable(service: String, source: String): (String, String) = {
    val parts = source.split('.')
    require(parts.length == 3, s"source must be db.schema.table: $source")
    (s"${service.toLowerCase}_${parts(0).toLowerCase}", parts(2).toLowerCase)
  }

  /** Per-topic checkpoint dir (`cdc_pipeline.py:364-368`). */
  def checkpointPath(root: String, dagId: String, topic: String): String =
    s"$root/checkpoint/$dagId/$topic"
}
