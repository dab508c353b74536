package graft.core

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions
import graft.plans.TopKPerKeyStrategy

/** The one session factory and the one activation path.
  *
  * Contract: a session gets the graft SQL functions (`poly_hash`,
  * `minhash16`, … — the table in [[GraftFunctions]]) and the
  * [[TopKPerKeyStrategy]] planner strategy only through [[activate]].
  *  - [[local]] builds a session and activates it, so every entry point
  *    (Bench, Verify, StageProbe, PlanDump, GraftCli, the tests) gets an
  *    activated session from here;
  *  - `SparkEntry.queries` activates a session the driver built and owns
  *    (a vanilla session, no engine configs assumed) before each query.
  *
  * local[N] for tests; on a real cluster the master/memory flags come
  * from spark-submit and everything else here still applies.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    activate(spark)
    spark
  }

  /** Install the graft functions, then the top-k strategy. Idempotent:
    * the strategy goes in last, so its presence marks a session that is
    * already activated and a repeat call returns at once (a second
    * install would replace all 23 functions, one registry WARN each).
    * Synchronized so two threads cannot both see the mark missing. */
  def activate(spark: SparkSession): Unit = synchronized {
    val methods = spark.experimental
    if (!methods.extraStrategies.contains(TopKPerKeyStrategy)) {
      GraftFunctions.install(spark)
      methods.extraStrategies = methods.extraStrategies :+ TopKPerKeyStrategy
    }
  }
}
