package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine builds a session and writes session conf:
  * the local session the harness mains and specs run on, the scoped conf
  * pin the streaming drains and dim-graph loops execute under, and the
  * per-sfDir catalog registration of the SQL-face tables.
  */
object Session {

  /** Local session on `cpus` cores: shuffle partitions = `cpus`, UTC
    * session time zone, no UI, WARN logging. `getOrCreate`, so a second
    * call in one JVM returns the already-active session.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[local]] on the deployment's core count, `SPARK_GRAFT_CPUS`
    * (default 4).
    */
  def fromEnv(): SparkSession = local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

  /** Run `body` with each `(key, value)` of `pins` set on the session
    * conf, then put every key back as it was: its prior value, or unset
    * if it was unset. Restores on a throw too, and in reverse order, so a
    * key pinned twice still ends at its value from before the scope.
    */
  def withConf[T](spark: SparkSession, pins: (String, String)*)(body: => T): T = {
    // getAll holds only the explicitly set keys: an unset key with a
    // default must come back unset, not pinned to its default
    val set = spark.conf.getAll
    val saved = pins.map { case (k, _) => k -> set.get(k) }
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Register a [[graft.sources.FbInsightsCatalog]] over `warehouse` as
    * `<prefix>_<sfDir with non-alphanumerics as _>` and return that name.
    * The name is per-sfDir because Spark's CatalogManager caches the
    * catalog INSTANCE on first resolution: re-pointing one shared name's
    * warehouse conf at a second sfDir would silently keep reading the
    * first warehouse.
    */
  def fbInsightsCatalog(spark: SparkSession, prefix: String, sfDir: String,
      warehouse: String): String = {
    val cat = prefix + "_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.FbInsightsCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    cat
  }
}
