package perfbench

import graft._
import graft.bench.TranscriptSuite
import graft.config.ConfigLoader
import graft.engine.Validator
import graft.io.{MetricsSink, SnapTable, TranscriptConfig, Transcripts}
import graft.state.Checkpoint
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one op hands back: turns it validated, the engine's verdicts, and
  * what the independent checker needs to recount them. */
final case class OpOut(turns: Long, summary: ValidationSummary,
    partitionVerdicts: Seq[PartitionVerdict], manifest: Map[String, Any])

/** Generated inputs shared by the workloads. Every cell is a pure function
  * of the seed (see `graft.io.Transcripts`). */
object Inputs {
  def config(convs: Long, seed: Long): TranscriptConfig =
    TranscriptConfig(numConvs = convs, seed = seed, hotConvExtraTurns = convs / 10)

  private def withLen(df: DataFrame): DataFrame =
    df.withColumn("text_len", coalesce(length(col("text")), lit(0)).cast("double"))

  def turns(spark: SparkSession, c: TranscriptConfig): DataFrame =
    withLen(Transcripts.turns(spark, c))

  /** Drifted second snapshot (role mix and text length shifted), a quarter
    * of the conversations: the drift rules' reference side. */
  def baseline(spark: SparkSession, c: TranscriptConfig): DataFrame =
    withLen(Transcripts.turns(spark,
      Transcripts.drifted(c.copy(numConvs = math.max(c.numConvs / 4, 1L)))))

  def parquetFiles(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toVector.sorted
    finally s.close()
  }

  /** What the independent checker reads: the op's files, the rules the
    * workload ran and their verdicts. */
  def manifest(wl: Workload, o: OpOut): Map[String, Any] = Map(
    "workload" -> wl.name, "files" -> o.manifest,
    "rules" -> wl.rules.map(r => Map(
      "name" -> r.name, "rule_type" -> r.ruleType, "columns" -> r.columns,
      "column" -> r.columns.headOption.orNull, "expression" -> r.expression.orNull,
      "parameters" -> r.parameters)),
    "results" -> o.summary.results.map(r => Map(
      "rule_name" -> r.rule_name, "rule_type" -> r.rule_type, "passed" -> r.passed,
      "failed_count" -> r.failed_count, "total_count" -> r.total_count,
      "metadata" -> r.metadata)),
    "partition_verdicts" -> o.partitionVerdicts.map(v => Map(
      "partition" -> v.partition, "rule_name" -> v.rule_name,
      "failed_count" -> v.failed_count, "total_count" -> v.total_count)))
}

/** One benchmark workload: a set-up round that generates and writes its
  * inputs into a directory, and an op that is one call into the engine. */
abstract class Workload(val spark: SparkSession, val seed: Long, val convs: Long) {
  def name: String
  val cfg: TranscriptConfig = Inputs.config(convs, seed)
  /** The rules an op runs, as the checker receives them. */
  def rules: Seq[ValidationRule] = TranscriptSuite.rules

  /** Generate and write every input into `dir`; returns (generate_s,
    * write_s). With `split` the turns are cached and counted first, so the
    * two halves are timed apart; otherwise generation streams into the
    * write and generate_s is 0. */
  def setupRound(dir: String, split: Boolean): (Double, Double) = {
    val t0 = System.nanoTime()
    val turns = Inputs.turns(spark, cfg)
    val src = if (split) { val c = turns.cache(); c.count(); c } else turns
    val t1 = System.nanoTime()
    writeTurns(src, dir)
    Inputs.baseline(spark, cfg).write.mode("overwrite").parquet(s"$dir/baseline")
    Transcripts.convIndex(spark, cfg).write.mode("overwrite").parquet(s"$dir/conv_index")
    if (split) src.unpersist(blocking = true)
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  protected def writeTurns(turns: DataFrame, dir: String): Unit

  private var dirV: String = _
  def dir: String = dirV
  /** Bind the workload to the inputs of one set-up round. */
  def open(dir: String): Unit = { dirV = dir; rows = turnsFrame(spark).count() }
  var rows: Long = 0L

  /** The turns table as the op reads it, in `s` (a later session may reopen). */
  def turnsFrame(s: SparkSession): DataFrame
  def baselineFrame(s: SparkSession): DataFrame = s.read.parquet(s"$dir/baseline")
  def convIndexFrame(s: SparkSession): DataFrame = s.read.parquet(s"$dir/conv_index")

  def op(i: Int, spans: Spans): OpOut

  protected def inputFiles: Map[String, Any] = Map(
    "baseline" -> Inputs.parquetFiles(s"$dir/baseline"),
    "conv_index" -> Inputs.parquetFiles(s"$dir/conv_index"))
}

/** The flagship 15-rule suite with per-partition verdicts over a turns
  * table bucketed by conv_id. */
final class SuitePartitioned(spark: SparkSession, seed: Long, convs: Long, buckets: Int)
    extends Workload(spark, seed, convs) {
  val name = "suite_partitioned"
  private def table(dir: String) = "turns_" + Integer.toHexString(dir.hashCode)

  protected def writeTurns(turns: DataFrame, dir: String): Unit =
    turns.repartition(buckets, col("conv_id"))
      .write.bucketBy(buckets, "conv_id")
      .option("path", s"$dir/turns")
      .mode("overwrite")
      .saveAsTable(table(dir))

  /** Re-declares the external bucketed table in sessions whose catalog
    * does not hold it yet. */
  def turnsFrame(s: SparkSession): DataFrame = {
    val t = table(dir)
    if (!s.catalog.tableExists(t)) {
      val ddl = s.read.parquet(s"$dir/turns").schema.toDDL
      s.sql(s"CREATE TABLE $t ($ddl) USING parquet CLUSTERED BY (conv_id) " +
        s"INTO $buckets BUCKETS LOCATION '$dir/turns'")
    }
    s.table(t)
  }

  def run(s: SparkSession, v: Validator): (ValidationSummary, Seq[PartitionVerdict]) =
    v.executeRulesPartitioned(turnsFrame(s), rules, "transcripts",
      Some(pmod(xxhash64(col("conv_id")), lit(32))))

  def validator(s: SparkSession): Validator = {
    val baseline = baselineFrame(s)
    val index = convIndexFrame(s)
    new Validator(s, ValidationConfig(tables = Seq(TableConfig("transcripts", rules))), {
      case "baseline"   => Some(baseline)
      case "conv_index" => Some(index)
      case _            => None
    })
  }

  def op(i: Int, spans: Spans): OpOut = {
    val (summary, verdicts) = spans("suite.validate")(run(spark, validator(spark)))
    OpOut(rows, summary, verdicts, Map("turns" -> Inputs.parquetFiles(s"$dir/turns")) ++ inputFiles)
  }
}

/** The CLI's `--incremental` cycle on a snap table: append a continuation
  * batch for a fresh ~1% slice of conversations, validate the changes with
  * a checkpoint, build the report and append the metrics sink. */
final class NightlyAppend(spark: SparkSession, seed: Long, convs: Long, turnsPerConv: Int)
    extends Workload(spark, seed, convs) {
  val name = "nightly_append"
  val slices = 100
  val sliceConvs: Long = math.max((convs - 1) / slices, 1L)

  protected def writeTurns(turns: DataFrame, dir: String): Unit =
    SnapTable.create(spark, s"$dir/snap", turns)

  def turnsFrame(s: SparkSession): DataFrame = SnapTable.read(s, s"$dir/snap")

  private var checkpoint: Checkpoint = _
  private var validator: Validator = _

  override def open(dir: String): Unit = {
    super.open(dir)
    checkpoint = new Checkpoint(s"$dir/state.json")
    val snap = SnapTable.snapshot(spark, s"$dir/snap")
    checkpoint.recordSnapshot("transcripts", Checkpoint.snapCursor(snap.tableId, snap.version))
    val baseline = baselineFrame(spark)
    val index = convIndexFrame(spark)
    validator = new Validator(spark,
      ValidationConfig(tables = Seq(TableConfig("transcripts", rules))), {
        case "baseline"   => Some(baseline)
        case "conv_index" => Some(index)
        case _            => None
      }, Some(checkpoint))
  }

  /** Continuation turns for op `i`: conversations of slice i mod 100 (conv 0,
    * the skewed one, is never picked) get `turnsPerConv` turns each, indices
    * picking up where the generator's length left off, roles alternating as
    * the grammar allows and timestamps on the generator's formula. A slice
    * picked again later continues after its earlier batches. Clean on every
    * row rule of the suite. */
  def delta(i: Int): DataFrame = {
    val slice = i % slices
    val round = i / slices
    val lo = 1L + slice * sliceConvs
    val len = (lit(cfg.minTurns) +
      pmod(xxhash64(lit(cfg.seed), lit("len"), col("cid")), lit(cfg.turnSpread.toLong))).cast("int")
    val idx = col("len") + lit(round * turnsPerConv) + col("k")
    spark.range(lo, math.min(lo + sliceConvs, convs)).toDF("cid")
      .select(col("cid"), len.as("len"), explode(sequence(lit(0), lit(turnsPerConv - 1))).as("k"))
      .select(
        format_string("conv-%08x", col("cid")).as("conv_id"),
        idx.cast("int").as("turn_idx"),
        when(idx % 2 === 0, "user").otherwise("assistant").as("role"),
        lit("appended continuation turn").as("text"),
        lit(null).cast("string").as("tool"),
        timestamp_seconds(lit(1700000000L) + col("cid") * 300L + idx.cast("long") * 7L).as("ts"),
        lit(26.0).as("text_len"))
      .coalesce(1)
  }

  /** Rows in the conversations a delta touches, read the way the engine's
    * group-rule frame reads them (file pruning, then a semi-join). */
  def affectedRows(delta: DataFrame): Long = {
    val table = SnapTable.readTouchedBy(spark, s"$dir/snap", "conv_id", delta)
    table.join(delta.select("conv_id").distinct(), Seq("conv_id"), "left_semi").count()
  }

  var lastDelta: DataFrame = _
  var lastDeltaRows: Long = 0L
  var lastFiles: Int = 0

  def op(i: Int, spans: Spans): OpOut = {
    val snapDir = s"$dir/snap"
    val batch = delta(i)
    spans("snap.append")(SnapTable.append(spark, snapDir, batch))
    val snap = spans("snap.snapshot")(SnapTable.snapshot(spark, snapDir))
    val from = checkpoint.recordedSnapCursor("transcripts").get._2
    val changes = spans("snap.changes")(SnapTable.changes(spark, snapDir, from, Some(snap.version)))
    val summary = spans("validator.incremental")(validator.validateTableIncremental(
      SnapTable.read(spark, snapDir), changes, "transcripts",
      tableFrameForKeys = Some(keys => SnapTable.readTouchedBy(spark, snapDir, keys.head, changes))))
    spans("checkpoint.mark")(checkpoint.recordSnapshot("transcripts",
      Checkpoint.snapCursor(snap.tableId, snap.version)))
    spans("report")(validator.report(Map("transcripts" -> summary)))
    spans("sink.append")(MetricsSink.appendSummary(spark, summary, s"$dir/metrics", f"op-$i%05d"))
    val added = snap.files.filter(f => snap.addedFiles.contains(f.path))
    val deltaRows = added.map(_.rowCount).sum
    lastDelta = changes; lastDeltaRows = deltaRows; lastFiles = snap.files.size
    OpOut(deltaRows, summary, Nil, Map(
      "turns" -> snap.files.map(f => s"$snapDir/${f.path}"),
      "delta" -> added.map(f => s"$snapDir/${f.path}")) ++ inputFiles)
  }
}

/** The example config with every rule family, over an unbucketed parquet
  * turns table: load, validate, report. */
final class ConfigAllFamilies(spark: SparkSession, seed: Long, convs: Long, configPath: String)
    extends Workload(spark, seed, convs) {
  val name = "config_all_families"
  /** None in the manifest: the checker reads this workload's YAML itself. */
  override def rules: Seq[ValidationRule] = Nil

  protected def writeTurns(turns: DataFrame, dir: String): Unit =
    turns.write.mode("overwrite").parquet(s"$dir/turns")

  def turnsFrame(s: SparkSession): DataFrame = s.read.parquet(s"$dir/turns")

  def load(): ValidationConfig = ConfigLoader.fromYamlFile(configPath, env = Map.empty)

  def op(i: Int, spans: Spans): OpOut = {
    val config = spans("config.load")(load())
    val baseline = baselineFrame(spark)
    val index = convIndexFrame(spark)
    val v = new Validator(spark, config, {
      case "conv_index"           => Some(index)
      case "transcripts_baseline" => Some(baseline)
      case _                      => None
    })
    val summary = spans("validator.table")(v.validateTable(turnsFrame(spark), "transcripts"))
    spans("report")(v.report(Map("transcripts" -> summary)))
    OpOut(rows, summary, v.partitionVerdictsOf("transcripts"),
      Map("turns" -> Inputs.parquetFiles(s"$dir/turns")) ++ inputFiles)
  }
}
