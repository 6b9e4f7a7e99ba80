package perfbench

import java.time.Instant

import scala.collection.mutable

import newspipe.functions.{SentimentAnalyzer, TextFunctions}
import newspipe.io.{JsonSource, Lake, LakeConfig}
import newspipe.pipeline.{Bronze, Pipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length, sum}

/** `medallion_batch`: back-to-back `Pipeline.run` calls, each ingesting one
  * page of generated articles; bronze accumulates across calls. This is
  * what the reference pipeline does: it loads `pipeline`, `dq`, `functions`
  * and the lake's write, commit and vacuum path. After each run the client
  * reads the fact table back through SQL on the `lake` catalog.
  *
  * Traced and untraced operations make the same calls. The traced run
  * splits each `Pipeline.run` by stage from the SQL executions the engine
  * ran, attributed by the lake layer each one writes.
  */
object Medallion extends Workload {
  val name = "medallion_batch"
  /** Articles per page (and per `Pipeline.run`): one NewsAPI page, the
    * reference's whole traffic per run (at most 100 articles, SURVEY.md §6).
    */
  val PageArticles = 100
  /** Pages landed in bronze during set-up. */
  val SeedPages = 1

  def clock(p: Int): Instant =
    Instant.parse("2026-03-01T00:00:00Z").plusSeconds(p * 3600L)

  def setup(ctx: Ctx): State = {
    val cfg = Pipeline.Config(lake = LakeConfig(basePath = ctx.dir.resolve("lake").toString))
    val lake = new Lake(ctx.spark, cfg.lake)
    val seeds = (0 until SeedPages).map(p => ctx.inputs.page(p, PageArticles))
    seeds.zipWithIndex.foreach { case (page, p) =>
      lake.write(Bronze.transform(JsonSource.fromJsonLines(ctx.spark, page.lines),
        clock(p).toString, cfg.country), "bronze", mode = "append")
    }
    new MedallionState(ctx, cfg, seeds)
  }

  /** The stage of `Pipeline.run` an execution writing `layer` belongs to:
    * the quarantine write is part of the silver stage's DQ split.
    */
  def stageOf(layer: String): String = layer match {
    case "bronze" => "bronze"
    case "quarantine" | "silver" => "silver"
    case _ => "gold"
  }

  val Stages = Seq("bronze", "silver", "gold")
}

/** One `Pipeline.run`: the counts the generator planted, the run's result,
  * the client's SQL answer over the fact table and, when traced, the run's
  * wall-clock window (epoch ms).
  */
final case class RunRecord(quarantined: Long, valid: Long, rows: Int,
    result: Pipeline.Result, factSql: (Long, Long), window: Option[(Long, Long)])

final class MedallionState(ctx: Ctx, cfg: Pipeline.Config, seeds: Seq[Page])
    extends State {
  import Medallion._
  private val spark = ctx.spark
  private val pages = mutable.ArrayBuffer.empty[Page] ++ seeds
  private val runs = mutable.ArrayBuffer.empty[RunRecord]
  private var resolveMs = 0.0
  private var resolves = 0
  private var current: Page = _
  private val factSql = s"SELECT COUNT(*), COUNT(DISTINCT URL) " +
    s"FROM lake.`${cfg.lake.basePath}/gold`.fact_news_articles"

  def opName(i: Int): String = s"Pipeline.run(page ${SeedPages + i})"

  override def prepare(i: Int): Unit =
    current = ctx.inputs.page(SeedPages + i, PageArticles)

  def op(i: Int): Long = {
    val p = SeedPages + i
    pages += current
    val t0 = System.currentTimeMillis()
    val r = Pipeline.run(spark, current.lines, cfg, clock(p))
    val window = if (Trace.enabled) Some((t0, System.currentTimeMillis())) else None
    val df = Trace.span("sql.analyze_ms")(spark.sql(factSql))
    val row = Trace.span("sql.execute_ms")(df.collect()).head
    runs += RunRecord(pages.map(_.quarantined.toLong).sum, pages.map(_.valid.toLong).sum,
      current.rows, r, (row.getLong(0), row.getLong(1)), window)
    current.rows
  }

  /** Traced run: the `functions` layer on this page's articles, and
    * snapshot resolution of the layers the run re-reads, each timed at its
    * boundary outside the run.
    */
  override def probe(i: Int): Unit = {
    val raw = JsonSource.fromJsonLines(spark, current.lines).localCheckpoint()
    FunctionsProbe(raw, "title", "content")
    raw.unpersist()
    val lake = new Lake(spark, cfg.lake)
    Seq("bronze", "silver", "gold/fact_news_articles").foreach { layer =>
      val t0 = System.nanoTime()
      lake.read(layer)
      resolveMs += (System.nanoTime() - t0) / 1e6
      resolves += 1
    }
  }

  def check(): Seq[String] = runs.toSeq.zipWithIndex.flatMap { case (run, i) =>
    def expect(what: String, got: Long, want: Long) =
      if (got == want) None else Some(s"run $i: $what $got, expected $want")
    val r = run.result
    expect("bronze rows", r.bronzeRows, run.rows) ++
      expect("quarantined rows", r.quarantineRows, run.quarantined) ++
      expect("silver rows", r.silverRows, run.valid) ++
      expect("fact rows", r.factRows, run.valid) ++
      // the SQL answer against its DataFrame twin, the run's own count
      expect("fact rows through SQL", run.factSql._1, r.factRows) ++
      expect("distinct fact URLs through SQL", run.factSql._2, r.factRows)
  }

  /** The layer a write into the lake targets, from its output directory. */
  private def layerOf(dir: String): Option[String] = {
    val base = java.nio.file.Paths.get(cfg.lake.basePath).toUri.getPath.stripSuffix("/")
    if (!dir.startsWith(base + "/")) None
    else Some(dir.drop(base.length + 1).takeWhile(_ != '/'))
  }

  /** Each traced `Pipeline.run` split by stage. An execution that writes a
    * lake layer belongs to that layer's stage; one that writes none (a
    * count, a span aggregate, the result counts) belongs to the stage of
    * the next write it precedes, or to gold after the last write. A
    * stage's time is the time its executions ran; `pipeline.driver_s` is
    * the rest of the run, the driver-side work between executions (commit
    * protocol, snapshot resolution, vacuum, planning). The stage times and
    * the driver time must add up to the runs' wall time.
    */
  override def layerMetrics(ops: Int, executions: Seq[Execution])
      : (Map[String, Double], Seq[String]) = {
    val windows = runs.flatMap(_.window).toSeq
    val stageMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var dqMs = 0L
    var execMs = 0L
    windows.foreach { w =>
      val in = executions.filter(_.overlaps(w)).sortBy(_.endMs)
      val layers = in.map(_.writes.flatMap(layerOf).headOption)
      val stages = in.indices.map { k =>
        (k until in.size).collectFirst { case j if layers(j).isDefined =>
          stageOf(layers(j).get) }.getOrElse("gold")
      }
      Stages.foreach { st =>
        stageMs(st) += Intervals.unionLength(
          in.indices.filter(stages(_) == st).map(in(_).clip(w)))
      }
      dqMs += Intervals.unionLength(in.indices
        .filter(layers(_).contains("quarantine")).map(in(_).clip(w)))
      execMs += Intervals.unionLength(in.map(_.clip(w)))
    }
    val wallMs = windows.map(w => w._2 - w._1).sum
    val driverMs = wallMs - execMs
    val accounted = Stages.map(stageMs).sum + driverMs
    val check =
      if (math.abs(accounted - wallMs) <= AccountingToleranceMs * windows.size) Nil
      else Seq(s"stage times and driver time add up to $accounted ms, " +
        s"the traced runs took $wallMs ms")
    val first = runs.headOption.map(_.result)
    (first.map { r =>
      Map("dq.quarantine_rows" -> r.quarantineRows.toDouble,
        "dq.valid_ratio" -> r.silverRows.toDouble / (r.silverRows + r.quarantineRows))
    }.getOrElse(Map.empty) ++ Map(
      "pipeline.bronze_s" -> stageMs("bronze") / 1e3 / ops,
      "pipeline.silver_s" -> stageMs("silver") / 1e3 / ops,
      "pipeline.gold_s" -> stageMs("gold") / 1e3 / ops,
      "pipeline.driver_s" -> driverMs / 1e3 / ops,
      "dq.split_s" -> dqMs / 1e3 / ops,
      "io.lake.snapshot_resolve_ms" -> resolveMs / math.max(1, resolves),
      "trace.stage_coverage" -> (if (wallMs > 0) execMs.toDouble / wallMs else 0.0)),
      check)
  }

  /** Per run, the stage times and the driver time may differ from its wall
    * time by this much: executions nested in one another and attributed to
    * different stages would count twice.
    */
  private val AccountingToleranceMs = 5L

  override def lakeBytesPerInputByte: Double =
    Runner.dirBytes(java.nio.file.Paths.get(cfg.lake.basePath)).toDouble /
      pages.map(_.bytes).sum

  def close(): Unit = Runner.deleteTree(ctx.dir)
}

/** The `functions` layer timed at its boundary: sentiment scoring and HTML
  * stripping over a materialized frame.
  */
object FunctionsProbe {
  def apply(df: DataFrame, titleCol: String, contentCol: String): Unit = {
    Trace.span("functions.sentiment_s") {
      df.select(sum(SentimentAnalyzer.sentiment(col(titleCol)).getField("polarity")))
        .collect()
    }
    Trace.span("functions.text_clean_s") {
      df.select(sum(length(TextFunctions.removeHtmlTags(col(contentCol))))).collect()
    }
    ()
  }
}
