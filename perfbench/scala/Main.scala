package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** One op's outcome and what the listeners saw during it. */
final case class OpRec(index: Int, ok: Boolean, wallS: Double, turns: Long,
    window: Window, gcMs: Long, startMs: Long, endMs: Long, error: String)

/** Benchmark harness: one workload, in two JVMs.
  *
  * {{{
  * perfbench.Main --phase setup --workload <name> --seed <n> --trace <0|1>
  *                --work <dir> --out <setup.json> --config <yaml>
  * perfbench.Main --phase ops --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --setup <setup.json> --out <result.json>
  *                --spans <file> --config <yaml>
  * }}}
  *
  * The set-up phase starts a session, generates the inputs and writes them
  * under `<work>/inputs`, and records the times. The ops phase reopens
  * those inputs in a fresh session. Ops are warmed up (at least three ops
  * and 5 s, then until two consecutive ones agree within 10%), then timed
  * for `--seconds` (at least three ops). Every op, warm-up ones too, counts
  * in `attempted`; one that throws or returns an error result counts as
  * failed and is left out of the timings. The result file carries the
  * end-to-end metrics (or, traced, the layer metrics) and a manifest for
  * the independent checker.
  */
object Main {

  /** Conversations per workload (about 17.5 turns each). The nightly
    * workload's snap table is also where the traced runs of the other
    * workloads run their nightly cycles. */
  val SuiteConvs = 15000L
  val ConfigConvs = 1500L
  val NightlyConvs = 1500L

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(threads: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (threads * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // an explicit page size: the default derives from heap and cores,
      // and whole default pages made the peak task memory jump by ~34 MB
      .config("spark.buffer.pageSize", "2m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
  }

  private def gcMs(): Long = {
    import java.lang.management.ManagementFactory
    val it = ManagementFactory.getGarbageCollectorMXBeans.iterator()
    var t = 0L
    while (it.hasNext) t += math.max(it.next().getCollectionTime, 0L)
    t
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val inputs = s"$work/inputs"
    val phase = opts("phase")
    // the ops leave one vCPU to the driver's section threads, the JIT and
    // the collector: with every vCPU running tasks, the suite's executor
    // CPU per op moved by up to 30% from one JVM to the next
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val threads = if (phase == "setup") cpus else math.max(1, cpus - 1)
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

    val t0 = System.nanoTime()
    var spark = session(threads, work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl: Workload = workload match {
      case "suite_partitioned" =>
        new SuitePartitioned(spark, seed, SuiteConvs, 8)
      case "nightly_append" =>
        new NightlyAppend(spark, seed, NightlyConvs, 4)
      case "config_all_families" =>
        new ConfigAllFamilies(spark, seed, ConfigConvs, opts("config"))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    if (phase == "setup") {
      val (g, w) = wl.setupRound(inputs, split = traced)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")),
        org.json4s.jackson.Serialization.write(
          Map("session_s" -> sessionS, "generate_s" -> g, "write_s" -> w)))
      spark.stop()
      return
    }
    val setup = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(opts("setup")))))
      .extract[Map[String, Double]]
    val rec = new Recorder(spark)
    val spans = new Spans(rec, traced)
    wl.open(inputs)

    def runOp(i: Int): (OpRec, Option[OpOut]) = {
      spans.op = i
      val m = rec.mark()
      val g0 = gcMs()
      val s0 = System.currentTimeMillis()
      val t = System.nanoTime()
      val out = try Right(wl.op(i, spans)) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t) / 1e9
      val s1 = System.currentTimeMillis()
      val w = rec.since(m)
      val g = gcMs() - g0
      out match {
        case Right(o) =>
          val errors = o.summary.results.filter(_.failed_count < 0)
          val err = errors.map(r => s"${r.rule_name}: ${r.message}").mkString("; ")
          (OpRec(i, errors.isEmpty, wall, o.turns, w, g, s0, s1, err), Some(o))
        case Left(e) =>
          (OpRec(i, ok = false, wall, 0L, w, g, s0, s1, String.valueOf(e)), None)
      }
    }

    // warm-up: at least three ops and 5 s (the first ops pay for compiling
    // query planning), then until two consecutive ops agree within 10%
    // (at most 20 ops)
    var i = 0
    var prev = -1.0
    var warm = false
    val warmOps = ArrayBuffer.empty[OpRec]
    val warmStart = System.nanoTime()
    while (!warm && i < 20) {
      val (r, _) = runOp(i)
      i += 1
      warmOps += r
      if (!r.ok) System.err.println(s"warm-up op ${r.index} failed: ${r.error}")
      val agree = r.ok && prev > 0 && math.abs(r.wallS - prev) <= 0.1 * math.max(r.wallS, prev)
      warm = agree && i >= 3 && (System.nanoTime() - warmStart) / 1e9 >= 5.0
      prev = if (r.ok) r.wallS else -1.0
    }

    val timed = ArrayBuffer.empty[OpRec]
    var last: Option[OpOut] = None
    val tStart = System.nanoTime()
    val seconds = opts("seconds").toDouble
    while (timed.size < 3 || (System.nanoTime() - tStart) / 1e9 < seconds) {
      val (r, o) = runOp(i)
      i += 1
      timed += r
      if (o.isDefined && r.ok) last = o
      if (!r.ok) System.err.println(s"op ${r.index} failed: ${r.error}")
    }
    val good = timed.filter(_.ok).toSeq

    val opS = median(good.map(_.wallS))
    var nightlyCheck: Option[Map[String, Any]] = None
    val metrics: Map[String, Any] =
      if (!traced) Map(
        "setup_s" -> (setup("session_s") + setup("generate_s") + setup("write_s")),
        "turns_per_s" -> median(good.map(_.turns.toDouble)) / opS,
        "op_s_p50" -> opS,
        "cpu_s_per_op" -> median(good.map(_.window.cpuS)),
        "scan_mb_per_op" -> median(good.map(_.window.scanMb)),
        "shuffle_mb_per_op" -> median(good.map(_.window.shuffleWriteMb)),
        "peak_task_mem_mb" -> median(good.map(_.window.peakTaskMemMb)))
      else {
        val layers = new Layers(spark, rec, spans, wl, work, opts("config"), opts("spans"))
        val out = layers.all(setup("generate_s"), setup("write_s"), good, last)
        spark = layers.spark
        nightlyCheck = layers.nightlyManifest
        out
      }

    val manifest = last.map(o => Inputs.manifest(wl, o))

    val result = Map(
      "workload" -> wl.name,
      "seed" -> seed,
      "threads" -> threads,
      "traced" -> traced,
      "rows" -> wl.rows,
      "warmup_ops" -> warmOps.size,
      "warmup_settled" -> warm,
      "warmup_op_s" -> warmOps.map(_.wallS),
      "attempted" -> (warmOps.size + timed.size),
      "failed" -> (warmOps ++ timed).count(!_.ok),
      "errors" -> (warmOps ++ timed).filterNot(_.ok).map(_.error),
      "op_s" -> timed.map(_.wallS),
      "metrics" -> metrics,
      "manifest" -> manifest,
      "nightly_manifest" -> nightlyCheck)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")),
      org.json4s.jackson.Serialization.write(result))
    spark.stop()
  }
}
