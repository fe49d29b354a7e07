package graft

import graft.bridge.SqlBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Session artifacts: what a pipeline builds once from some inputs and
  * then reads many times — a pair table written to parquet, a stored
  * index, a fixture file. One cache serves the named queries and the SQL
  * table functions.
  *
  * An entry is keyed on what it was computed from, never on a name: its
  * kind, its parameters, the canonicalized analyzed plan of each input
  * (the equality the CacheManager uses) and, for every file-backed input,
  * the (path, length, modification time) listing of its files. A replaced
  * view or a rewritten file is a new key and builds afresh; an unchanged
  * input reuses the artifact. Each build writes to a path of its own,
  * `graft_<kind>_<uuid>` under the temp dir, removed when the JVM exits.
  */
object Artifacts {
  private final case class Key(
      app: String,
      kind: String,
      params: Seq[Any],
      plans: Seq[LogicalPlan],
      files: Seq[Option[Seq[(String, Long, Long)]]])

  // computeIfAbsent (unlike TrieMap.getOrElseUpdate) runs the build at
  // most once per key even under concurrent callers — two racers must
  // not both build the same artifact
  private val cache = new java.util.concurrent.ConcurrentHashMap[Key, AnyRef]
  private val paths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val builds = new java.util.concurrent.atomic.AtomicLong
  private lazy val removeOnExit: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() => {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    paths.forEach(p => rm(new java.io.File(p)))
  }))

  /** Builds run so far, in this JVM (a hit runs none). */
  def buildCount: Long = builds.get

  /** The value built from `inputs` by `build`, which runs at most once per
    * (kind, inputs, params) and gets a fresh path to write its output to.
    * `inputs` must not be empty: their session scopes the entry.
    */
  def cached[T <: AnyRef](kind: String, inputs: Seq[DataFrame], params: Any*)(build: String => T): T = {
    require(inputs.nonEmpty, s"artifact $kind: no inputs to key on")
    val spark = inputs.head.sparkSession
    val plans = inputs.map(SqlBridge.analyzedPlan)
    val files = plans.flatMap(_.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten).distinct.sorted.map(Tables.listing(spark, _))
    val key = Key(spark.sparkContext.applicationId, kind, params, plans.map(_.canonicalized), files)
    cache.computeIfAbsent(key, _ => {
      removeOnExit
      val path = new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"graft_${kind}_${java.util.UUID.randomUUID}").toString
      paths.add(path)
      builds.incrementAndGet()
      build(path)
    }).asInstanceOf[T]
  }

  /** [[cached]] for a frame: written to parquet once, and every caller
    * gets a read of that file.
    */
  def parquet(kind: String, inputs: Seq[DataFrame], params: Any*)(build: => DataFrame): DataFrame =
    cached(kind, inputs, params: _*) { path =>
      build.write.parquet(path)
      inputs.head.sparkSession.read.parquet(path)
    }
}
