package graft.plans

import org.apache.spark.sql.SparkSession

/** The engine's one session factory, with its recommended local-mode
  * configuration: extensions injected at construction, AQE on (runtime
  * re-planning + skew-join handling), shuffle partitions sized to the core
  * count rather than the 200 default. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` when set, else every processor the JVM sees. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
