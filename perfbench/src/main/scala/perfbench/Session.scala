package perfbench

import org.apache.spark.sql.SparkSession

/** The measured session: the same settings and guards as the program's
  * own bench main (`graft.Bench`), pointed at the run's scratch dirs. */
object Session {

  def start(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$scratch/spark-warehouse")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    guard(spark)
    spark
  }

  /** Fails the run when either JVM/SQL tuning the program's bench relies
    * on is missing, so a dropped option cannot read as a slowdown. */
  private def guard(spark: SparkSession): Unit = {
    val keys = graft.SparkEntry.queries.size
    val cacheEntries = spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt
    if (cacheEntries < keys)
      throw new IllegalStateException(
        s"spark.sql.codegen.cache.maxEntries=$cacheEntries is below the $keys registered keys")
    import scala.jdk.CollectionConverters._
    val rcc = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .collect { case a if a.startsWith("-XX:ReservedCodeCacheSize=") =>
        a.stripPrefix("-XX:ReservedCodeCacheSize=").toLowerCase }
      .lastOption.flatMap { v =>
        val mult = v.last match {
          case 'k' => 1L << 10
          case 'm' => 1L << 20
          case 'g' => 1L << 30
          case _   => 1L
        }
        scala.util.Try(v.filter(_.isDigit).toLong * mult).toOption
      }
    if (!rcc.exists(_ >= (512L << 20)))
      throw new IllegalStateException(
        s"-XX:ReservedCodeCacheSize is ${rcc.fold("unset")(b => s"${b >> 20}m")}, below 512m")
  }
}
