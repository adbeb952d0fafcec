package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dev helper: run named SparkEntry slots in one warm JVM and show rows,
  * time and, optionally, plans.
  *
  * Usage: runMain graft.RunOne <slot[,slot...]> <sfDir> [explain] [reps=N] [plans=DIR]
  *  - `explain` prints each slot's `.explain("formatted")` before its run;
  *  - `plans=DIR` writes it to `DIR/<slot>.txt` (before/after plan
  *    evidence without one cold sbt launch per slot);
  *  - `reps=N` re-runs each slot N times and prints the min — cold-JVM
  *    single runs bake ~5 s of startup into the number.
  * A slot that throws is reported and the rest still run; the exit code is
  * then 1.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunOne <slot[,slot...]> <sfDir> [explain] [reps=N] [plans=DIR]")
    val names    = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir    = args(1)
    val explain  = args.contains("explain")
    def opt(key: String) = args.collectFirst { case a if a.startsWith(s"$key=") => a.drop(key.length + 1) }
    val reps     = opt("reps").map(_.toInt).getOrElse(1)
    val plansDir = opt("plans")
    plansDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val spark = MainSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    val failed = names.filterNot { name =>
      try {
        val fn = SparkEntry.slot(name).run
        val times = (1 to reps).map { r =>
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          if (r == 1) {
            if (explain) df.explain("formatted")
            plansDir.foreach { d =>
              Files.writeString(Paths.get(d, s"$name.txt"),
                df.queryExecution.explainString(ExplainMode.fromString("formatted")))
              println(s"[runone] $name plan -> $d/$name.txt")
            }
          }
          val n   = df.count()
          val sec = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          spark.catalog.clearCache()
          println(f"[runone] $name rows=$n in $sec%.1fs")
          sec
        }
        if (reps > 1) println(f"[runone] $name min of $reps: ${times.min}%.2fs")
        true
      } catch { case e: Throwable =>
        println(s"[runone] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
    }
    spark.stop()
    sys.exit(if (failed.isEmpty) 0 else 1)
  }
}
