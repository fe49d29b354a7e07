package graft.sources

import graft.{Artifacts, Tables}
import org.apache.spark.sql.SparkSession

/** Bucketed-table source/sink surface — the storage-layout half of the
  * "co-locate joins" strategy. Writing both join sides bucketed (and
  * sorted) on the join key pins each key to a deterministic bucket file,
  * so a later equi-join on that key needs NO shuffle of either side: the
  * planner reads matching buckets pair-wise and sort-merge-joins them in
  * place. At 100 TB that converts the single biggest cost of a fact-fact
  * join — two full-table exchanges — into a metadata lookup, which is why
  * every warehouse pre-buckets its largest conformed tables.
  *
  * The write itself pays ONE shuffle-by-key (hash into `buckets` files per
  * task) — the same price as one join's exchange — amortized over every
  * subsequent join/aggregation on that key. Each bucketed table is a
  * `graft.Artifacts` entry: an external table at the artifact's own path,
  * keyed on the source table's files, so repeated queries reuse it and a
  * rewritten source builds a new one.
  */
object Bucketed {

  /** Write `table` from `dir` as a parquet table bucketed+sorted by
    * `bucketCol`; returns the catalog table name, which is taken from the
    * artifact path's UUID. A repeat call over unchanged files reuses the
    * table; the bucket column and count are part of the key, since the
    * same table bucketed differently is a different physical layout.
    */
  def ensureBucketed(
      spark: SparkSession,
      dir: String,
      table: String,
      bucketCol: String,
      buckets: Int): String = {
    val source = Tables.read(spark, dir, table)
    Artifacts.cached("bucketed", Seq(source), bucketCol.toLowerCase, buckets) { path =>
      val name = new java.io.File(path).getName.replace('-', '_')
      source.write
        .format("parquet")
        .bucketBy(buckets, bucketCol)
        .sortBy(bucketCol)
        .option("path", path)
        .saveAsTable(name)
      name
    }
  }
}
