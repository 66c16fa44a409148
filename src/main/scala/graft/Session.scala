package graft

import org.apache.spark.sql.SparkSession

/** The one builder of local SparkSessions. Every main and the shared test
  * session go through it, so core count, shuffle width, time zone, UI and
  * log level cannot drift between them. */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with `cores` shuffle partitions, UTC session
    * time, the UI off and WARN logging, WindowExec's at ERROR. `confs` are
    * applied last, so they may override any of the confs. */
  def local(app: String, cores: Int = defaultCores,
      confs: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(confs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Every unpartitioned window in the repo runs over a ≤k-row post-limit
    // rank frame (audited at the call sites), so WindowExec's "No Partition
    // Defined" warning is noise that would repeat hundreds of times a run.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
