package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{BenchAccess, DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Benchmark harness: one closed-loop client running a workload's DAG.
  *
  * `Harness <config.json>` reads the run's configuration (written by
  * perfbench/run.py) and writes one JSON result file. A run is:
  *
  *  1. session start (`local[slots]`, shuffle partitions = slots, a fresh
  *     warehouse, scratch and Spark local dir under the run dir);
  *  2. `setup_rounds` set-up rounds, each in a database and work directory
  *     of its own: the workload's one-time ingest, then the first call of
  *     every op with its output digest (the correctness check). The run's
  *     set-up time is session start plus the median round;
  *  3. `warmup_passes` untimed passes, then timed passes, in the last
  *     round's database: each pass calls every op once, in an order that
  *     respects the ops' dependencies, drawn from the seed; a further pass
  *     starts while it is expected to end less than half a pass past
  *     `seconds`, after at least `min_passes` passes. A timed call is the
  *     op's own call into the program, plus a write of a lazy result to
  *     Spark's `noop` sink, so every output column is computed.
  *
  * With `trace` on, the middle two passes of every four attach a read-only
  * [[Tracer]] and record each call's layer costs; the outer two give the
  * tracer's overhead. Caches and persisted RDDs are dropped after every
  * call. Every call runs under a budget: a call that throws or overruns is
  * cancelled, recorded as failed, and the run goes on. An op whose call
  * failed is not called again in the run, and no call starts after the
  * run's `deadline_s`: each call's budget is cut to the time left before
  * it. Such skipped calls are recorded as failed calls too, so a run with
  * hanging ops still ends in time.
  */
object Harness {
  private val mapper = new ObjectMapper()

  final class Outcome(val ok: Boolean, val error: String)

  def fullOutput(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new java.io.File(args(0)))
    val out = cfg.get("out").asText()
    val result =
      if (cfg.path("mode").asText("run") == "selftest") SelfTest.run(cfg)
      else run(cfg)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), mapper.writeValueAsString(result))
    System.out.flush()
    // stray non-daemon threads (an interrupted stream) must not keep the JVM alive
    sys.exit(0)
  }

  def session(cfg: JsonNode): SparkSession = {
    val runDir = cfg.get("run_dir").asText()
    val slots = cfg.get("slots").asInt()
    redirectScratch(s"$runDir/scratch")
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.ops.TableIO.quietKnownLogNoise()
    spark
  }

  /** `graft.SparkEntry` keeps its round-trip files under one fixed scratch
    * root, a static final String field of its module class. Point that root
    * (and every path derived from it) into this run's own directory, so runs
    * share no on-disk state and write only there. This runs before anything
    * reads the fields; the program's code is unchanged.
    */
  private def redirectScratch(dir: String): Unit = {
    val obj = graft.SparkEntry
    val fields = obj.getClass.getDeclaredFields.toSeq.filter(f =>
      f.getType == classOf[String] && java.lang.reflect.Modifier.isStatic(f.getModifiers))
    fields.foreach(_.setAccessible(true))
    val unsafe = {
      val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
      f.setAccessible(true)
      f.get(null).asInstanceOf[sun.misc.Unsafe]
    }
    fields.find(_.getName.endsWith("scratch")).map(_.get(null).asInstanceOf[String]) match {
      case Some(root) =>
        fields.foreach { f =>
          f.get(null) match {
            case s: String if s.startsWith(root) =>
              unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f),
                dir + s.substring(root.length))
            case _ =>
          }
        }
      case None =>
        System.err.println("[perfbench] SparkEntry has no scratch root field; nothing redirected")
    }
  }

  /** The configured workload, or the self-test's synthetic one. */
  def workload(cfg: JsonNode): Workload =
    if (cfg.get("workload").asText() == "selftest") SelfTest.workload
    else Workloads.named(cfg.get("workload").asText())

  /** Run `body` on its own thread under a cancellable job group; a call
    * that throws, or is still running after `budgetSec`, is a failure.
    */
  def withBudget(spark: SparkSession, tag: String, budgetSec: Double)(body: => Unit): Outcome = {
    @volatile var outcome = new Outcome(false, "did not finish")
    val group = s"perfbench-$tag"
    val t = new Thread(() => {
      spark.sparkContext.setJobGroup(group, tag, interruptOnCancel = true)
      outcome =
        try { body; new Outcome(true, "") }
        catch {
          case e: Throwable =>
            new Outcome(false, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
        }
        finally spark.sparkContext.clearJobGroup()
    }, group)
    t.setDaemon(true)
    t.start()
    t.join((budgetSec * 1000).toLong)
    if (t.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => })
      t.interrupt()
      t.join(20000L)
      if (t.isAlive) System.err.println(s"[perfbench] $tag still running after cancel")
      new Outcome(false, f"timeout after $budgetSec%.0f s")
    } else outcome
  }

  def dropCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Run `out`'s last step, if the op left one: a lazy result is written to
    * the `noop` sink, which keeps every column and the whole plan. */
  def finish(out: Out): Unit = out match {
    case Out.Frame(df) => fullOutput(df)
    case _             =>
  }

  /** Rows of a result that no task write counts: a driver-side result's
    * size, or for a lazy result (written to `noop`, which counts nothing)
    * the row count its set-up digest found. Table and file writes are
    * counted by the tracer. */
  def uncountedRows(out: Out, digestRows: Long): Long = out match {
    case Out.Local(rows, _) => rows.size.toLong
    case Out.Frame(_)       => digestRows
    case _                  => 0L
  }

  def digest(spark: SparkSession, out: Out): Digest.Result = out match {
    case Out.Frame(df)        => Digest.of(df)
    case Out.Written(t)       => Digest.of(spark.table(t.qualifiedName))
    case Out.Files(path)      => Digest.of(spark.read.parquet(path))
    case Out.Local(rows, sch) => Digest.of(spark.createDataFrame(rows.asJava, sch))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def run(cfg: JsonNode): java.util.Map[String, Any] = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val host0 = HostStats.read()
    val spark = session(cfg)
    val startS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w = workload(cfg)
    val data = cfg.get("data").asText()
    val runDir = cfg.get("run_dir").asText()
    val budget = cfg.get("budget_s").asDouble()
    val slots = cfg.get("slots").asInt()
    val trace = cfg.get("trace").asInt() == 1
    val deadline = t0 + (cfg.get("deadline_s").asDouble() * 1e9).toLong
    val failedOps = scala.collection.mutable.Set.empty[String]

    /** One call, or a failed skip when the op has failed before or the
      * run's deadline has passed. Returns the outcome and wall time. */
    def call(name: String, tag: String)(body: => Unit): (Outcome, Double) = {
      val left = (deadline - System.nanoTime()) / 1e9
      if (failedOps.contains(name)) (new Outcome(false, "skipped: failed earlier in the run"), 0.0)
      else if (left <= 0) {
        failedOps += name
        (new Outcome(false, "skipped: run deadline passed"), 0.0)
      } else {
        val c0 = System.nanoTime()
        val o = withBudget(spark, tag, math.min(budget, left))(body)
        val s = secs(c0)
        dropCaches(spark)
        if (!o.ok) failedOps += name
        (o, s)
      }
    }

    var ctx: Ctx = null
    val digestRows = scala.collection.mutable.Map.empty[String, Long]
    val rounds = (1 to cfg.get("setup_rounds").asInt()).map { r =>
      val db = s"bench_r$r"
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      spark.catalog.setCurrentDatabase(db)
      ctx = new Ctx(spark, data, s"$runDir/work/r$r")
      val c = ctx
      val i0 = System.nanoTime()
      val (ingest, _) = call("ingest", s"r$r-ingest")(w.ingest(c))
      val ingestS = secs(i0)
      val f0 = System.nanoTime()
      val ops = w.ops.map { op =>
        var callS, checkS = 0.0
        var d: Digest.Result = null
        val (o, _) = call(op.name, s"r$r-${op.name}") {
          val c0 = System.nanoTime()
          val out = op.run(c)
          callS = secs(c0)
          val d0 = System.nanoTime()
          d = digest(spark, out)
          checkS = secs(d0)
          digestRows(op.name) = d.rows
        }
        J.obj("op" -> op.name, "module" -> op.module, "ok" -> o.ok, "error" -> o.error,
          "call_s" -> callS, "check_s" -> checkS,
          "rows" -> Option(d).map(_.rows).getOrElse(-1L), "digest" -> Option(d).map(_.hash).getOrElse(""))
      }
      J.obj("round" -> r, "ingest_ok" -> ingest.ok, "ingest_error" -> ingest.error,
        "ingest_s" -> ingestS, "first_calls_s" -> secs(f0), "ops" -> J.list(ops))
    }
    val rng = new scala.util.Random(cfg.get("seed").asLong())
    val readyS = secs(t0)
    // untimed warm-up passes: after the set-up rounds the JIT is still
    // compiling, and the first pass ran 10-20% slower than the third. Their
    // calls are not recorded; an op that fails here fails every timed call.
    (1 to cfg.path("warmup_passes").asInt(0)).foreach { k =>
      Workloads.order(w.ops, rng).foreach { op =>
        call(op.name, s"w$k-${op.name}")(finish(op.run(ctx)))
      }
    }

    val tracer = new Tracer
    val calls = new java.util.ArrayList[Any]()
    val passes = new java.util.ArrayList[Any]()
    val m0 = System.nanoTime()
    val hostM0 = HostStats.read()
    var codegenNs = 0L
    var pass = 0
    var lastPassS = 0.0
    // traced runs go in untraced-traced-traced-untraced blocks, so a trend
    // across passes cancels out of the tracer's overhead. Past the deadline
    // the minimum passes still run, every call skipped.
    val minPasses = if (trace) 4 else cfg.get("min_passes").asInt()
    // a further pass starts while it is expected to end less than half a
    // pass past `seconds`, so the timed phase lasts `seconds` on average
    def more: Boolean = pass < minPasses || (trace && pass % 4 != 0) ||
      (System.nanoTime() < deadline && secs(m0) + lastPassS / 2 <= cfg.get("seconds").asDouble())
    while (more) {
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val cg0 = BenchAccess.codegenNanos
      val jit0 = HostStats.jitSeconds()
      val steal0 = HostStats.read().steal
      val p0 = System.nanoTime()
      var bookkeepingNs = 0L
      Workloads.order(w.ops, rng).foreach { op =>
        val startMs = System.currentTimeMillis()
        var rows = 0L
        val (o, callS) = call(op.name, s"p$pass-${op.name}") {
          val out = op.run(ctx)
          finish(out)
          rows = uncountedRows(out, digestRows.getOrElse(op.name, 0L))
        }
        val endMs = System.currentTimeMillis()
        val rec = J.obj("pass" -> pass, "traced" -> traced, "op" -> op.name,
          "module" -> op.module, "deps" -> J.list(op.deps), "s" -> callS, "ok" -> o.ok,
          "error" -> o.error)
        if (traced && callS > 0) {
          val b0 = System.nanoTime()
          BenchAccess.drainListenerBus(spark.sparkContext)
          val t = tracer.harvest(startMs, endMs)
          rec.putAll(J.obj("driver_s" -> t.driverS, "plan_s" -> t.planS,
            "job_active_s" -> t.jobActiveS, "task_s" -> t.taskS, "cpu_s" -> t.cpuS,
            "gc_s" -> t.gcS, "shuffle_bytes" -> t.shuffleBytes, "spill_bytes" -> t.spillBytes,
            "output_bytes" -> t.outputBytes, "rows_out" -> (t.recordsWritten + rows),
            "jobs" -> t.jobs, "tasks" -> t.tasks, "task_retries" -> t.taskRetries))
          bookkeepingNs += System.nanoTime() - b0
        }
        calls.add(rec)
      }
      val passS = (System.nanoTime() - p0 - bookkeepingNs) / 1e9
      lastPassS = passS
      if (traced) {
        codegenNs += BenchAccess.codegenNanos - cg0
        spark.listenerManager.unregister(tracer)
        spark.sparkContext.removeSparkListener(tracer)
      }
      passes.add(J.obj("pass" -> pass, "traced" -> traced, "s" -> passS,
        "jit_s" -> (HostStats.jitSeconds() - jit0),
        "steal_s" -> (HostStats.read().steal - steal0) / HostStats.Hz))
      pass += 1
    }
    val measureS = secs(m0)
    val hostM1 = HostStats.read()
    val peakRssMb = HostStats.peakRssMb()
    spark.stop()
    J.obj(
      "workload" -> w.name, "seed" -> cfg.get("seed").asLong(),
      "trace" -> (if (trace) 1 else 0), "slots" -> slots,
      "session" -> J.obj("start_s" -> startS, "ready_s" -> readyS, "measure_s" -> measureS),
      "rounds" -> J.list(rounds), "passes" -> passes, "calls" -> calls,
      "codegen_s" -> codegenNs / 1e9, "peak_rss_mb" -> peakRssMb,
      "host" -> J.obj("measure" -> hostM1.minus(hostM0), "run" -> hostM1.minus(host0)))
  }
}

/** Java collections, so Jackson writes plain JSON. */
object J {
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def list(xs: Seq[Any]): java.util.List[Any] = new java.util.ArrayList[Any](xs.asJava)
}

/** Host-level noise: CPU steal and CPU used by other processes, from
  * /proc/stat (all CPUs) and /proc/self/stat (this JVM), in seconds.
  */
final case class HostStats(steal: Long, busy: Long, self: Long, load1: Double) {
  def minus(o: HostStats): java.util.Map[String, Any] = J.obj(
    "steal_s" -> (steal - o.steal) / HostStats.Hz,
    "other_cpu_s" -> math.max(0.0, ((busy - o.busy) - (self - o.self)) / HostStats.Hz),
    "self_cpu_s" -> (self - o.self) / HostStats.Hz,
    "loadavg_1m" -> load1)
}

object HostStats {
  val Hz = 100.0
  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    catch { case _: Throwable => "" }

  def read(): HostStats = {
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(
      _.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.fill(10)(0L))
    def f(i: Int) = if (cpu.length > i) cpu(i) else 0L
    // user nice system idle iowait irq softirq steal
    val busy = f(0) + f(1) + f(2) + f(5) + f(6)
    val selfStat = read("/proc/self/stat")
    val self = selfStat.substring(selfStat.lastIndexOf(')') + 2).split(' ') match {
      case a if a.length > 12 => a(11).toLong + a(12).toLong
      case _                  => 0L
    }
    val load = read("/proc/loadavg").split(' ').headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
    HostStats(f(7), busy, self, load)
  }

  /** Time the JIT compilers have spent so far, in seconds. */
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
