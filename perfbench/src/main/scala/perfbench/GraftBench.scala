package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.queries.DerivedGraphs

/** One benchmark process: set-up, an untimed checking pass, then timed
  * passes of one workload's operator calls, issued one after another by a
  * single closed-loop client on `local[cores]`. A timed pass issues each
  * operator `reps` times in a row.
  *
  * Every call is materialized through Spark's `noop` sink, so the plan
  * keeps every output column: a `count()` would let Catalyst prune
  * projections (an `e1_norm` count plans as `Aggregate ← Project [] ←
  * Relation` and never computes a norm). `clearCache` runs after every
  * call and a GC before every timed one, outside the timed section.
  *
  * `run.py` starts this main, checks the outputs the checking pass wrote
  * against `SparkEntry.oracleSql` and turns the run record into metrics.
  *
  * Args: `<workload> <dataDir> <outDir> <seed> <reps> <passes>
  *        <trace 0|1> <cores> <setupReps>`
  */
object GraftBench {
  /** Registered queries a workload runs, and the part co-order graphs
    * (by `minShared`) set-up derives for them. `DerivedGraphs` memoizes a
    * derivation per session as a `localCheckpoint`, which `clearCache`
    * does not drop, so its cost is billed to set-up, never to a pass. */
  final case class Workload(queries: Seq[String], minShared: Seq[Int])

  val workloads: Map[String, Workload] = Map(
    "graph-small" -> Workload(Seq("g4_cc", "g6_bfs", "g7_pagerank", "g17_kcore3"), Seq(1, 2)),
    "tables-oneshot" -> Workload(Seq(
      "q1_agg", "q2_join", "q5_window", "q9_distinct", "g1_degree", "t1_tokens",
      "t5_minhash", "t8_simhash", "e1_norm", "e3_knn", "ev1_tumbling", "ev2_sessions"), Seq(1)))

  def session(cores: Int, localDir: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", localDir)
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = osBean.getProcessCpuTime
  /** Time the JIT compiler threads spent compiling, ms. */
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak resident set of this JVM (`VmHWM`), MB. */
  private def peakRssMb: Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final case class Call(pass: Int, traced: Boolean, op: String, wallS: Double, cpuS: Double,
      jitS: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val Array(wlName, data, out, seedS, callRepsS, passesS, traceS, coresS, repsS) = args.take(9)
    val seed = seedS.toLong
    val (callReps, passes) = (callRepsS.toInt, passesS.toInt)
    val traced = traceS == "1"
    val cores = coresS.toInt
    val localDir = s"$out/spark-local"
    val trace = new Trace
    val wl = workloads(wlName)
    val root = trace.open("workload", wlName, 0L)
    val tStart = System.nanoTime()

    // ---- set-up, repeated: session start + warm-up + input derivation.
    // Every repetition but the last stops its session; the median is the
    // set-up time, so one cold JVM start does not decide it.
    val setups = ArrayBuffer.empty[Seq[(String, Double)]]
    var spark: SparkSession = null
    for (rep <- 0 until repsS.toInt) {
      val t0 = System.nanoTime()
      spark = session(cores, localDir)
      if (traced) trace.attach(spark)
      spark.range(1000).count()
      val sessionS = secs(t0)
      val span = trace.open("setup", s"setup $rep", root.id)
      val t1 = System.nanoTime()
      trace.within(spark, span) {
        wl.minShared.foreach(k => DerivedGraphs.partGraph(spark, data, k).edges)
      }
      val deriveS = secs(t1)
      val totalS = secs(t0)
      if (traced) trace.detach(spark)
      setups += Seq("total_s" -> totalS, "session_s" -> sessionS, "derive_s" -> deriveS,
        "derive_shuffle_mb" -> trace.stageSum(span, "shuffle_write_bytes") / 1e6)
      if (rep < repsS.toInt - 1) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    def run(q: String) = SparkEntry.queries(q)(spark, data)
    val setupPhaseS = secs(tStart)

    // ---- untimed checking pass: also the warm-up of every operator
    val tCheck = System.nanoTime()
    val calls = ArrayBuffer.empty[Call]
    for (q <- wl.queries) {
      val t0 = System.nanoTime()
      val err = try {
        run(q).write.mode("overwrite").parquet(s"$out/check/$q")
        None
      } catch { case t: Throwable => Some(s"${t.getClass.getName}: ${t.getMessage}") }
      err.foreach(e => System.err.println(s"[perfbench] check $q failed: $e"))
      calls += Call(-1, traced = false, q, secs(t0), 0.0, 0.0, err)
      spark.catalog.clearCache()
    }
    write(s"$out/check/oracle_sql.json", json.writeValueAsString(
      ListMap(wl.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)): _*)))
    val checkPhaseS = secs(tCheck)

    // ---- `passes` timed passes of `callReps` executions of each operator
    // in a row: fixed counts; the seed fixes each pass's operator order. A
    // traced run issues every timed call twice, untraced and traced,
    // untraced first on even positions of the pass and traced first on odd
    // ones, so JVM warm-up favours neither side of `trace.overhead_frac`.
    val tTimed = System.nanoTime()
    val rng = new Random(seed)
    val opSpans = ArrayBuffer.empty[(Int, Trace.Span)]
    for (pass <- 0 until passes) {
      val passSpan = trace.open("pass", s"pass $pass", root.id)
      for ((q, i) <- rng.shuffle(wl.queries).zipWithIndex; _ <- 0 until callReps) {
        val modes = if (!traced) Seq(false) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        for (tracedCall <- modes) {
          System.gc()
          if (tracedCall) trace.attach(spark)
          val span = trace.open(if (tracedCall) "operator" else "untraced", q, passSpan.id)
          val (c0, j0) = (cpuNs, jitMs)
          val t0 = System.nanoTime()
          val err = try {
            trace.within(spark, span) {
              run(q).write.format("noop").mode("overwrite").save()
            }
            None
          } catch { case t: Throwable => Some(s"${t.getClass.getName}: ${t.getMessage}") }
          val wall = secs(t0)
          val (cpu, jit) = ((cpuNs - c0) / 1e9, (jitMs - j0) / 1e3)
          if (tracedCall) {
            trace.detach(spark)
            opSpans += ((pass, span))
          }
          err.foreach(e => System.err.println(s"[perfbench] $q failed: $e"))
          calls += Call(pass, tracedCall, q, wall, cpu, jit, err)
          spark.catalog.clearCache()
        }
      }
      trace.close(passSpan)
    }
    val timedPhaseS = secs(tTimed)
    trace.close(root)
    val rssMb = peakRssMb
    val sparkVersion = spark.version
    spark.stop()

    val layers = if (traced) perLayer(trace, opSpans.toSeq, calls.toSeq, cores, callReps, setups.toSeq) else Nil
    if (traced) write(s"$out/trace.json", json.writeValueAsString(trace.spanRecords))
    val record = ListMap(
      "workload" -> wlName, "seed" -> seed, "traced" -> traced, "cores" -> cores, "setup_reps" -> repsS.toInt,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> sparkVersion,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "session_configs" -> Tables.sessionConfigs,
      "passes" -> passes,
      "peak_rss_mb" -> rssMb,
      "reps" -> callReps,
      "phase_s" -> ListMap("setup" -> setupPhaseS, "check" -> checkPhaseS, "passes" -> timedPhaseS),
      "setups" -> setups.map(ListMap(_: _*)),
      "calls" -> calls.map(c => ListMap("pass" -> c.pass, "traced" -> c.traced, "op" -> c.op,
        "wall_s" -> c.wallS, "cpu_s" -> c.cpuS, "jit_s" -> c.jitS, "error" -> c.error)),
      "per_layer" -> (if (traced) ListMap(layers: _*) else null))
    write(s"$out/record.json", json.writeValueAsString(record))
  }

  /** Per-layer counters of the traced calls, per pass over the operator
    * list (workload level: a pass's sum divided by `reps`) or per call
    * (operator level, median over the operator's traced calls). */
  private def perLayer(trace: Trace, opSpans: Seq[(Int, Trace.Span)], calls: Seq[Call],
      cores: Int, reps: Int, setups: Seq[Seq[(String, Double)]]): Seq[(String, Double)] = {
    val spans = opSpans.map(_._2)
    val nPasses = opSpans.map(_._1).distinct.size.max(1) * reps
    def perPass(f: Trace.Span => Double): Double = spans.map(f).sum / nPasses
    def passWalls(t: Boolean) = calls.filter(c => c.pass >= 0 && c.traced == t)
      .groupBy(_.pass).values.map(_.map(_.wallS).sum / reps).toSeq
    val tracedPass = median(passWalls(true))
    val jobs = perPass(s => trace.jobsOf(s).size.toDouble)
    val tasks = perPass(s => trace.stageSum(s, "tasks"))
    val runS = perPass(s => trace.stageSum(s, "run_ms")) / 1e3
    def setupMedian(k: String) = median(setups.map(_.toMap.apply(k)))
    val workloadLevel = Seq(
      "spark.jobs" -> jobs,
      "spark.stages" -> perPass(s => trace.stageCount(s).toDouble),
      "spark.tasks" -> tasks,
      "spark.tasks_per_job" -> (if (jobs > 0) tasks / jobs else 0.0),
      "shuffle.write_mb" -> perPass(s => trace.stageSum(s, "shuffle_write_bytes")) / 1e6,
      "shuffle.read_mb" -> perPass(s => trace.stageSum(s, "shuffle_read_bytes")) / 1e6,
      "shuffle.spill_mb" -> perPass(s => trace.stageSum(s, "spill_bytes")) / 1e6,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> perPass(s => trace.stageSum(s, "cpu_ns")) / 1e9,
      "exec.gc_s" -> perPass(s => trace.stageSum(s, "gc_ms")) / 1e3,
      "exec.busy_frac" -> runS / (tracedPass * cores),
      "jvm.jit_s" -> calls.filter(_.traced).map(_.jitS).sum / nPasses,
      "plan.planning_s" -> perPass(s => trace.planningMs(s).toDouble) / 1e3,
      "driver.self_s" -> perPass(s => trace.selfMs(s).toDouble) / 1e3,
      "scan.bytes_read_mb" -> perPass(s => trace.stageSum(s, "input_bytes")) / 1e6,
      "scan.rows_read" -> perPass(s => trace.stageSum(s, "input_records")),
      "setup.session_s" -> setupMedian("session_s"),
      "setup.derive_s" -> setupMedian("derive_s"),
      "setup.derive_shuffle_mb" -> setupMedian("derive_shuffle_mb"),
      "failed.tasks" -> trace.failedTaskCount.toDouble,
      "trace.overhead_frac" -> (tracedPass / median(passWalls(false)) - 1.0))
    val perOp = spans.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, ss) =>
      val walls = calls.filter(c => c.traced && c.op == name).map(_.wallS)
      Seq(
        s"op.$name.wall_s" -> median(walls),
        s"op.$name.jobs" -> median(ss.map(s => trace.jobsOf(s).size.toDouble)),
        s"op.$name.shuffle_mb" -> median(ss.map(s => trace.stageSum(s, "shuffle_write_bytes") / 1e6)),
        s"op.$name.self_s" -> median(ss.map(s => trace.selfMs(s) / 1e3)))
    }
    workloadLevel ++ perOp
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try w.println(text) finally w.close()
  }
}
