package perfbench

import graft.bench.TranscriptSuite
import graft.config.ConfigLoader
import graft.engine.{Checks, RulePlanner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The traced run's layer pass. Each layer's public functions are called
  * alone, from outside, on the workload's own inputs; the engine's own
  * timings are never read. Orchestration figures come from the workload's
  * timed ops. The spans go to a JSON-lines file. */
final class Layers(var spark: SparkSession, rec: Recorder, spans: Spans, wl: Workload,
    work: String, configPath: String, spansPath: String) {
  import Main.median

  /** Checker manifest of the last nightly cycle the pass ran. */
  var nightlyManifest: Option[Map[String, Any]] = None

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Median wall, CPU and the last run's window of `n` calls. */
  private def probe(name: String, n: Int)(f: => Any): (Double, Double, Window) = {
    val runs = (1 to n).map(_ => spans.timed(name)(f)._2)
    (median(runs.map(_.wallS)), median(runs.map(_.window.get.cpuS)), runs.last.window.get)
  }

  /** Wall span of the jobs in a window, the union of their intervals, and
    * the most that ran at once. */
  private def jobStats(w: Window, start: Long, end: Long): (Double, Int) = {
    val iv = w.jobs.map(j => (math.max(j.startMs, start), math.min(math.max(j.endMs, j.startMs), end)))
      .filter { case (a, b) => b >= a }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE >= curS && curS >= 0) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curS >= 0) covered += curE - curS
    val events = iv.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(e => (e._1, e._2))
    var cur = 0; var peak = 0
    events.foreach { case (_, d) => cur += d; peak = math.max(peak, cur) }
    (covered / 1e3, peak)
  }

  private def sections(w: Window): Map[String, Seq[JobRec]] =
    w.jobs.filter(_.desc.nonEmpty).groupBy(_.desc)

  def all(generateS: Double, writeS: Double, ops: Seq[OpRec], last: Option[OpOut]): Map[String, Any] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    out("trace.op_s_p50") = median(ops.map(_.wallS))
    out("setup.generate_s") = generateS
    out("setup.write_s") = writeS

    // orchestration, from the workload's own ops
    val orch = ops.map { o =>
      val (covered, peak) = jobStats(o.window, o.startMs, o.endMs)
      val secs = sections(o.window)
      val secWall = secs.values.map(js => (js.map(_.endMs).max - js.map(_.startMs).min) / 1e3).sum
      (o.window.jobs.size.toDouble, o.window.tasks.size.toDouble,
        o.window.jobs.count(_.desc.isEmpty).toDouble, peak.toDouble,
        math.max(o.wallS - covered, 0.0), secWall / o.wallS)
    }
    out("validator.jobs") = median(orch.map(_._1))
    out("validator.tasks") = median(orch.map(_._2))
    out("validator.untagged_jobs") = median(orch.map(_._3))
    out("validator.max_concurrent_jobs") = median(orch.map(_._4))
    out("validator.driver_gap_s") = median(orch.map(_._5))
    out("validator.overlap") = median(orch.map(_._6))
    out("jvm.gc_ms_per_op") = median(ops.map(_.gcMs.toDouble))

    val turns = wl.turnsFrame(spark)
    val rows = turns.count()
    val index = wl.convIndexFrame(spark)
    val baseline = wl.baselineFrame(spark)
    val rules = TranscriptSuite.rules

    val loads = (1 to 5).map(_ => spans.timed("config.load")(ConfigLoader.fromYamlFile(configPath, env = Map.empty))._2.wallS)
    out("config.load_ms") = median(loads) * 1e3

    // engine.RulePlanner: the fused row pass alone
    val (fs, fcpu, _) = probe("fused", 3)(RulePlanner.runFused(turns, rules.filter(RulePlanner.fusible)))
    out("fused.s") = fs
    out("fused.cpu_s") = fcpu
    out("fused.ns_per_row") = fcpu * 1e9 / math.max(rows, 1L)

    // engine.Checks: the four group-unit families, each alone
    val byName = rules.map(r => r.name -> r).toMap
    val grammar = byName("role_grammar")
    val pairs = grammar.param("pairs").get.split(",").toSeq.map { e =>
      val Array(a, b) = e.trim.split("->"); (a, b)
    }
    val first = grammar.param("first").map(_.split(",").toSeq)
    val families: Seq[(String, () => DataFrame)] = Seq(
      "uniq" -> (() => Checks.duplicateKeys(turns, Seq("conv_id", "turn_idx"))),
      "seq" -> (() => Checks.sequenceGroups(turns, Seq("conv_id"), "turn_idx")),
      "mono" -> (() => Checks.monotonicGroups(turns, Seq("conv_id"), "turn_idx", "ts")),
      "trans" -> (() => Checks.transitionGroups(turns, Seq("conv_id"), "turn_idx", "role",
        pairs, first)))
    var scans = 0; var sorts = 0
    families.foreach { case (fam, df) =>
      val (s, cpu, w) = probe(s"checks.$fam", 2)(noop(df()))
      out(s"checks.${fam}_s") = s
      out(s"checks.${fam}_cpu_s") = cpu
      scans += w.queries.map(_.scans).sum
      sorts += w.queries.map(_.sorts).sum
    }
    out("checks.group_scans") = scans
    out("checks.group_sorts") = sorts

    // engine.Checks: the shuffle referential join and the drift histograms
    val (rs, _, rw) = probe("ref", 2)(noop(Checks.orphans(turns, "conv_id", index, "conv_id",
      broadcastDim = false)))
    out("ref.s") = rs
    out("ref.build_ms") = rw.queries.map(_.buildMs).sum.toDouble
    out("ref.sort_ms") = rw.queries.map(_.sortMs).sum.toDouble
    out("ref.shuffle_mb") = rw.shuffleWriteMb
    val specs = Seq(
      "role" -> Checks.boundedCategory(col("role"), Seq("user", "assistant", "system", "tool")),
      "text_len" -> Checks.numericBucket(col("text_len").cast("double"), 0.0, 2000.0, 64))
    val (ds, dcpu, _) = probe("drift", 2) {
      Checks.multiHistogram(turns, specs); Checks.multiHistogram(baseline, specs)
    }
    out("drift.s") = ds
    out("drift.cpu_s") = dcpu

    // io.SnapTable, state.Checkpoint, io.MetricsSink and the incremental
    // path: the nightly workload's own ops, or three nightly cycles on a
    // snap table generated with this workload's seed at the nightly size
    val (nightly, nSpans) = wl match {
      case n: NightlyAppend => (n, spans)
      case _ =>
        val n = new NightlyAppend(spark, wl.seed, Main.NightlyConvs, 4)
        val d = s"$work/inputs/nightly"
        n.setupRound(d, split = false)
        n.open(d)
        val sp = new Spans(rec, traced = true)
        val outs = (0 until 3).map { k => sp.op = k; n.op(k, sp) }
        nightlyManifest = Some(Inputs.manifest(n, outs.last))
        spans.all ++= sp.all
        (n, sp)
    }
    def spanMedian(name: String): Double = median(nSpans.named(name).map(_.wallS))
    out("snap.append_s") = spanMedian("snap.append")
    out("snap.snapshot_s") = spanMedian("snap.snapshot")
    out("snap.changes_s") = spanMedian("snap.changes")
    out("snap.files") = nightly.lastFiles
    out("snap.delta_rows") = nightly.lastDeltaRows
    out("checkpoint.mark_ms") = spanMedian("checkpoint.mark") * 1e3
    out("sink.append_s") = spanMedian("sink.append")
    val (affected, semi) = spans.timed("incr.semi_join")(nightly.affectedRows(nightly.lastDelta))
    out("incr.affected_rows") = affected
    out("incr.affected_ratio") = affected.toDouble / math.max(nightly.lastDeltaRows, 1L)
    out("incr.semi_join_s") = semi.wallS

    val reports = spans.named("report")
    out("report.ms") = 1e3 * (if (reports.nonEmpty) median(reports.map(_.wallS)) else {
      val v = new graft.engine.Validator(spark, graft.ValidationConfig())
      median((1 to 5).map(_ => spans.timed("report")(v.report(last.get.summary))._2.wallS))
    })

    // the flagship suite over this workload's turns in fresh two- and
    // one-thread sessions
    def suiteTps(s: SparkSession): Double = {
      val frame = wl.turnsFrame(s)
      val total = frame.count()
      val b = wl.baselineFrame(s); val ix = wl.convIndexFrame(s)
      val v = new graft.engine.Validator(s, graft.ValidationConfig(tables = Seq(
        graft.TableConfig("transcripts", rules))), {
        case "baseline"   => Some(b)
        case "conv_index" => Some(ix)
        case _            => None
      })
      def once(): Double = {
        val t0 = System.nanoTime()
        v.executeRulesPartitioned(frame, rules, "transcripts",
          Some(pmod(xxhash64(col("conv_id")), lit(32))))
        (System.nanoTime() - t0) / 1e9
      }
      once()
      total / once()
    }
    writeSpans()
    rec.detach()
    val Seq(tps2, tps1) = Seq(2, 1).map { t =>
      spark.stop()
      spark = Main.session(t, work)
      spark.sparkContext.setLogLevel("ERROR")
      suiteTps(spark)
    }
    out("suite.tps_1t") = tps1
    out("suite.scaling_eff_1to2") = tps2 / (2 * tps1)
    out.toMap
  }

  private def writeSpans(): Unit = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val lines = spans.all.map { s =>
      val w = s.window
      org.json4s.jackson.Serialization.write(Map("kind" -> "span", "name" -> s.name, "op" -> s.op, "wall_s" -> s.wallS,
        "cpu_s" -> w.map(_.cpuS), "jobs" -> w.map(_.jobs.size), "tasks" -> w.map(_.tasks.size),
        "shuffle_mb" -> w.map(_.shuffleWriteMb), "scan_mb" -> w.map(_.scanMb),
        "spill_mb" -> w.map(_.spillMb), "gc_ms" -> w.map(_.gcMs),
        "scans" -> w.map(_.queries.map(_.scans).sum), "sorts" -> w.map(_.queries.map(_.sorts).sum),
        "build_ms" -> w.map(_.queries.map(_.buildMs).sum),
        "sort_ms" -> w.map(_.queries.map(_.sortMs).sum),
        "sections" -> w.map(win => sections(win).map { case (d, js) =>
          val ids = js.map(_.jobId).toSet
          val ts = win.tasks.filter(t => ids(t.jobId))
          d -> Map("wall_s" -> (js.map(_.endMs).max - js.map(_.startMs).min) / 1e3,
            "cpu_s" -> ts.map(_.cpuNs).sum / 1e9, "tasks" -> ts.size,
            "shuffle_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
            "spill_mb" -> ts.map(_.spill).sum / 1e6, "gc_ms" -> ts.map(_.gcMs).sum)
        })))
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(spansPath).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(spansPath), lines.mkString("", "\n", "\n"))
  }
}
