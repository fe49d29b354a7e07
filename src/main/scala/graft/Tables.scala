package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every loader is a plain parquet scan — filters/column pruning applied by
  * callers reach the scan via Catalyst pushdown, so at 100 TB these become
  * partition-pruned, row-group-skipped columnar reads with no extra work here.
  */
object Tables {

  /** Loads `dir/name.parquet`. A bare parquet read runs a Spark job to
    * infer the schema from a file footer and lists the files into a new
    * file index; this one reuses the relation (inferred schema and file
    * index) a previous load of the same files built in the same session, so
    * a repeat load of an unchanged table runs no job and lists the files
    * only to check them. The catalog key is the table path plus every file
    * under it (path, length, modification time), so an appended or
    * rewritten file loads afresh.
    */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    Sessions.tune(spark)
    val path = s"$dir/$name.parquet"
    RelationCatalog.fingerprint(spark, path) match {
      case None => spark.read.parquet(path) // missing path: Spark raises its own error
      case Some(fp) =>
        RelationCatalog.lookup(spark, path, fp) match {
          case Some(relation) => spark.baseRelationToDataFrame(relation)
          case None =>
            val df = spark.read.parquet(path)
            graft.bridge.SqlBridge.analyzedPlan(df) match {
              case l: LogicalRelation => RelationCatalog.store(spark, path, fp, l.relation)
              case _ =>
            }
            df
        }
    }
  }

  /** Every file under `path` as (path, length, modification time), sorted;
    * None when the path does not exist. The identity of a file-backed
    * input: what the relation catalog and the artifact cache key on.
    */
  private[graft] def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val files = Seq.newBuilder[(String, Long, Long)]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(files.result().sorted)
    }
  }

  /** Session-scoped file relations, one per table path, each valid for the
    * file listing (and inference conf) it was built under.
    */
  private object RelationCatalog {
    /** every file under the table path as (path, length, mtime), plus the
      * session conf that changes what parquet schema inference returns */
    type Fingerprint = (Seq[(String, Long, Long)], Seq[Option[String]])
    private val InferenceConf = Seq(
      "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
      "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.parquet.mergeSchema")
    private val bySession = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Map[String, (Fingerprint, BaseRelation)]])

    def fingerprint(spark: SparkSession, path: String): Option[Fingerprint] =
      listing(spark, path).map(files => (files, InferenceConf.map(spark.conf.getOption)))

    def lookup(spark: SparkSession, path: String, fp: Fingerprint): Option[BaseRelation] =
      Option(bySession.get(spark)).flatMap(_.get(path)).collect { case (f, relation) if f == fp => relation }

    def store(spark: SparkSession, path: String, fp: Fingerprint, relation: BaseRelation): Unit =
      bySession.synchronized {
        bySession.put(spark, Option(bySession.get(spark)).getOrElse(Map.empty).updated(path, (fp, relation)))
      }
  }

  /** S3 capability check — the Spark analogue of the reference's eager
    * `MODULE LIST` probe (/root/reference/potoos/client.py:22-35): fail
    * fast at construction time if a required source is absent, instead of
    * failing mid-job on an executor.
    */
  def requireTables(dir: String, names: Seq[String]): Unit = {
    val missing = names.filterNot(n => new java.io.File(s"$dir/$n.parquet").exists())
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"required source tables missing under $dir: ${missing.mkString(", ")}")
  }

  /** `events` with a normalized `ts_ms: Long` (epoch millis, UTC) column.
    *
    * The reference models a time series as (timestamp_ms: int64, value:
    * float64) samples under a series key (/root/reference/potoos/models/
    * anomaly.py:7-12, client.py:39). Here: user_id = series key, ts_ms =
    * timestamp, value = value. The parquet `ts` is timestamp[ns]; Spark has
    * no ns timestamp type, so it is read as Long ns (nanosAsLong) and
    * floor-divided to millis — identical truncation to DuckDB's epoch_ms().
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, dir, "events")
    val tsMs = raw.schema("ts").dataType match {
      case LongType => expr("ts DIV 1000000") // ns → ms, integer division
      case TimestampType | TimestampNTZType => unix_millis(col("ts").cast(TimestampType))
      case other => sys.error(s"unexpected events.ts type: $other")
    }
    raw.withColumn("ts_ms", tsMs)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
