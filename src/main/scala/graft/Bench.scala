package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * - One warmup pass at sf0.001 first (session/codegen warmup — round-2
  *   showed 15–26 s of pure first-query JVM cost otherwise).
  * - Failure honesty: a crashed query is reported in an `errors` map with
  *   elapsed -1, never as a plausible wall-time.
  * - Per-query wall-clock budget (SPARK_GRAFT_QUERY_BUDGET_SEC, default
  *   120 s at the target SF): a pathological query gets its job group
  *   cancelled and one red `errors` entry — it can never erase the other
  *   results again (round 4's bench died rc=124 inside ONE quadratic query
  *   and the driver got no numbers at all).
  * - Per-query progress streams to stderr as results land; stdout stays the
  *   single JSON line the driver parses.
  * - Noise guard: the whole suite runs SPARK_GRAFT_BENCH_RUNS times (default
  *   2) and each query reports its best (min) time. This host's hypervisor
  *   shows minutes-long CPU-steal bursts that inflate arbitrary queries
  *   10–30x (SCALE.md "Bench variance"); two sweeps spaced a full suite apart
  *   rarely land the same query in the same burst, so min-of-sweeps reports
  *   the plan's cost rather than the hypervisor's mood.
  * - Long-query exception to the noise guard: a query whose measured time
  *   already exceeds SPARK_GRAFT_SKIP_REPEAT_SEC (default 300) is not
  *   re-measured on later passes. Min-of-sweeps exists to dodge sub-minute
  *   steal bursts; a multi-minute query integrates over them, and repeating
  *   it only stretches the sweep (the sf1 exact-dial kNN join runs ~15 min).
  */
object Bench {

  /** Run `body` in its own thread under a cancellable job group; returns
    * Right(result) or Left(error string) on crash/timeout. The thread is the
    * job-group owner, so cancelJobGroup kills exactly this query's jobs.
    */
  private def withBudget[T](spark: SparkSession, name: String, budgetSec: Int)(
      body: => T): Either[String, T] = {
    @volatile var out: Either[String, T] = Left("did not run")
    val t = new Thread(() => {
      spark.sparkContext.setJobGroup(s"bench-$name", name, interruptOnCancel = true)
      out =
        try Right(body)
        catch {
          case e: Throwable =>
            Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        }
      finally spark.sparkContext.clearJobGroup()
    }, s"bench-$name")
    t.setDaemon(true)
    t.start()
    t.join(budgetSec * 1000L)
    if (t.isAlive) {
      spark.sparkContext.cancelJobGroup(s"bench-$name")
      t.interrupt()
      t.join(30000L)
      if (t.isAlive)
        // a zombie's tasks still occupy cores and taint every later timing —
        // make that loud instead of silently reporting plausible numbers
        System.err.println(
          s"[bench] WARNING: $name did not stop after cancel+interrupt; " +
            "subsequent timings may be inflated by its leftover tasks")
      Left(s"timeout after ${budgetSec}s (job group cancelled)")
    } else out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_BUDGET_SEC", "120").toInt
    val spark = MainSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // escape backslash, quote, and ALL control chars (<0x20) — an exception
    // message carrying a stray \f or ESC byte must not make the one stdout
    // JSON line unparseable (that would recreate the round-4 no-numbers
    // failure this file exists to prevent); same contract as Verify's writer
    def esc(s: String) = s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }
    // Sweep protocol (round 9): exact dials that are super-linear BY
    // CONSTRUCTION (they exist to give an approximate operator a bit-exact
    // oracle) run only at the oracle SF band (<= 0.1); above it they are
    // skipped LOUDLY (pinned_skipped in the JSON) and the production-dial
    // twins (the slots without an oracle) — which run at every SF — carry
    // the slope story instead. SF parses from the dir name's trailing sf<N>.
    val sf = "sf([0-9.]+)/?$".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.1)
    val pinnedSkipped =
      if (sf > 0.105) SparkEntry.slots.filter(_.pinnedToOracleSf).map(_.name).toSet
      else Set.empty[String]
    pinnedSkipped.foreach(n =>
      System.err.println(s"[bench] $n pinned to the oracle SF (exact dial), skipped at sf=$sf"))
    // SPARK_GRAFT_SLOT_FILTER=<regex>: run only matching slots — the
    // third-decade probe sweeps the 12 bench-only twins + the documented
    // cost-step (q162) as a committed artifact instead of RunOne prose
    // (round-13, VERDICT r12 task 5). The filter is honest in the output:
    // a filtered artifact lists only the slots it ran.
    val slotFilter = sys.env.get("SPARK_GRAFT_SLOT_FILTER").map(_.r)
    val sorted = SparkEntry.slots.sortBy(_.name)
      .filterNot(slot => pinnedSkipped.contains(slot.name))
      .filter(slot => slotFilter.forall(_.findFirstIn(slot.name).isDefined))
    // Warmth protocol (round 15 — VERDICT r14 task 3). The round-14
    // adjudication showed protocol length is part of the measurement: a
    // slot measured after ~45 min of 196-slot JIT/cache warmth reads up to
    // ~30% faster than the same slot in a 15-slot filtered run — which is
    // how three linear twins booked super-linear slopes. The fix is a
    // PER-SLOT warm-up immediately before each slot's first measured pass,
    // at SPARK_GRAFT_WARMUP_SF_DIR (one SF below the target — enough
    // invocations through the slot's own code paths for C2, at a fraction
    // of the measured cost), so a filtered artifact and a marathon
    // artifact measure the same warm steady state. Without the env var the
    // legacy whole-suite sf0.001 pre-pass runs instead (session/codegen
    // warm-up only — it does NOT equalize protocols).
    val perSlotWarmDir = sys.env.get("SPARK_GRAFT_WARMUP_SF_DIR")
      .filter(d => new java.io.File(d).isDirectory)
    val warmupDir = "/root/testdata/sf0.001"
    if (perSlotWarmDir.isEmpty && new java.io.File(warmupDir).isDirectory && warmupDir != sfDir)
      sorted.foreach { slot =>
        withBudget(spark, s"warmup-${slot.name}", budgetSec)(slot.run(spark, warmupDir).count())
      }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val skipRepeatSec = sys.env.getOrElse("SPARK_GRAFT_SKIP_REPEAT_SEC", "300").toDouble
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (pass <- 1 to runs) {
      sorted.foreach { slot =>
        val name = slot.name
        val fn   = slot.run
        // ingest-bearing at-rest slots are exempt from skip-repeat: their
        // pass 1 may carry one-time index ingest, and skipping pass 2 would
        // book that ingest-inclusive time as the steady state (ADVICE r15)
        if (pass > 1 && !slot.ingestOnFirstPass &&
            best.get(name).exists(t => t >= skipRepeatSec)) {
          System.err.println(f"[bench] p$pass $name%-28s skipped (>${skipRepeatSec}%.0fs on an earlier pass)")
        } else {
        if (pass == 1) perSlotWarmDir.foreach { wd =>
          val w0 = System.nanoTime()
          withBudget(spark, s"warm-$name", budgetSec)(fn(spark, wd).count())
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          spark.catalog.clearCache()
          System.err.println(
            f"[bench] p0 $name%-28s ${(System.nanoTime() - w0) / 1e9}%8.2f s (warm-up @ $wd, untimed)")
        }
        val t0 = System.nanoTime()
        val r = withBudget(spark, s"$name-p$pass", budgetSec)(fn(spark, sfDir).count())
        val sec = (System.nanoTime() - t0) / 1e9
        // drop whatever the query pinned (cache/localCheckpoint RDDs):
        // leftover storage blocks from earlier queries otherwise accumulate
        // across the 155-query suite and tax later slots — round 7's
        // "q87 regression" was exactly this, a bench-position artifact
        // (the op itself re-measured FASTER than round 6 in isolation)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
        r match {
          case Right(_) =>
            System.err.println(f"[bench] p$pass $name%-28s ${sec}%8.2f s")
            // a success on any pass supersedes an earlier failure
            if (best.getOrElse(name, -1.0) < 0 || sec < best(name)) best(name) = sec
            errors.remove(name)
          case Left(err) =>
            System.err.println(f"[bench] p$pass $name%-28s   FAILED  $err")
            if (!best.get(name).exists(_ >= 0)) { best(name) = -1.0; errors(name) = err }
        }
        }
      }
    }
    val results = sorted.map(slot => slot.name -> best.getOrElse(slot.name, -1.0))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // pinned_skipped honors the slot filter too (ADVICE r13): a filtered
    // artifact (the twins-only sf30 probe) must list only pins within the
    // filter's scope — otherwise it reports pinned slots it never ran.
    val pinnedJson = pinnedSkipped.toSeq
      .filter(n => slotFilter.forall(_.findFirstIn(n).isDefined))
      .sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"failed":${errors.size},"pinned_skipped":$pinnedJson,"sf":"$sfDir"}"""
    println(line)
    // also persist the complete per-query table into the repo: the driver
    // captures stdout with a bounded tail, which truncated round 6's table
    // below q64 — a committed file makes every round comparable query-by-query
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCHFULL_OUT", "/root/repo/BENCHFULL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullOut), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $fullOut: $e") }
    spark.stop()
    // non-daemon Spark threads (e.g. an interrupted streaming query) must not
    // keep the JVM alive past the report — the round-4 failure mode was an
    // rc-124 harness kill with NOTHING on stdout.
    System.out.flush()
    sys.exit(0)
  }
}
