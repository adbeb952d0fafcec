package graft
import org.apache.spark.sql.SparkSession

/** The session the Bench, Verify and RunOne mains run on: `local[cpus]`
  * with one shuffle partition per core, UTC, managed tables under
  * `target/warehouse` (resolved against the working directory, which is
  * the project root under `sbt runMain`), no UI, the known benign log
  * lines quieted, and staging dirs orphaned by crashed runs swept.
  */
object MainSession {
  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new java.io.File("target/warehouse").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ops.TableIO.quietKnownLogNoise()
    ops.TableIO.sweepOrphanTemps(spark)
    spark
  }
}
