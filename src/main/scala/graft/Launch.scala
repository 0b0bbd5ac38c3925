package graft

import org.apache.spark.sql.SparkSession

/** What a main takes from its process: its Spark session, its core
  * count and its query selection. Every main and the tests' shared
  * session build through [[session]], so a session setting has one
  * place to go. The JVM flags a session needs on JDK 17 live in
  * `dev/jvm.args`, which `dev/run_main.sh` and `build.sbt` pass.
  */
object Launch {

  /** A local session on `cpus` cores, one shuffle partition per core,
    * UTC, no UI, WARN logging; `conf` adds a main's own settings. An
    * already running session is returned with `conf` applied. */
  def session(app: String, cpus: Int = Launch.cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .appName(app)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  def cpus: Int = cpus(sys.env)

  def cpus(env: Map[String, String]): Int = env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"SPARK_GRAFT_CPUS=$v is not a positive core count"))
  }

  /** `SPARK_GRAFT_ONLY=a,b`: the named subset of `valid`, or None (all
    * of them) when unset. A name outside `valid` throws, so a typo
    * never selects nothing in silence. */
  def only(valid: Iterable[String]): Option[Set[String]] = only(valid, sys.env)

  def only(valid: Iterable[String], env: Map[String, String]): Option[Set[String]] =
    env.get("SPARK_GRAFT_ONLY").map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- valid
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names unknown: " +
        s"${unknown.toSeq.sorted.mkString(",")} (valid: ${valid.toSeq.sorted.mkString(",")})")
      names
    }
}
