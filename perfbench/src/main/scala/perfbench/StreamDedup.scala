package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import newspipe.io.{JsonSource, Lake, LakeConfig}
import newspipe.model.Schemas
import newspipe.ops.IncrementalAgg
import newspipe.pipeline.{Bronze, Silver}
import newspipe.streaming.StreamingSilver
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum, xxhash64}
import org.apache.spark.sql.streaming.StreamingQuery

/** `stream_dedup`: each operation lands one slice of articles as a file in
  * a file-source directory. The slice flows through `StreamingSilver`, the
  * `lake` sink with `deduped=true` (each micro-batch is one
  * `appendDeduped` commit against the silver layer's dedup index), then
  * `LakeChangeSource` into an `IncrementalAgg` gold table maintained in
  * `foreachBatch`. The next slice is sent only after gold reflects the
  * current one; the client then reads gold's row total through SQL on the
  * `lake` catalog. This exercises `streaming`, `io.source`, the dedup index
  * and one lake commit per trigger, with no star-schema build.
  */
object StreamDedup extends Workload {
  val name = "stream_dedup"
  /** Articles per streamed slice: one NewsAPI page, as the reference
    * fetches per run (at most 100 articles, SURVEY.md §6).
    */
  val SliceRows = 100
  val Keys = Seq("SOURCE")
  val Sums = Seq("CONTENT_WORD_COUNT")

  /** Bronze → silver with the numeric dedup id the index keys on: the
    * index needs a numeric id column, and the article URL is the key, so
    * the id is `xxhash64(URL)`.
    */
  def silverOf(bronze: DataFrame, streaming: Boolean): DataFrame = {
    val flat = Silver.flattenSource(Bronze.transform(bronze, "2026-03-01T00:00:00Z", "us"))
    val silver = if (streaming) StreamingSilver.transform(flat) else Silver.transform(flat)
    silver.withColumn("DOC_ID", xxhash64(col("URL")))
  }

  def setup(ctx: Ctx): State = {
    val spark = ctx.spark
    val base = ctx.dir.resolve("lake").toString
    val lake = new Lake(spark, LakeConfig(basePath = base))
    val seed = ctx.inputs.slice(0, SliceRows)
    lake.writeAtomic(silverOf(JsonSource.fromJsonLines(spark, seed.lines), streaming = false),
      "silver")
    lake.createDedupIndex("silver", "dix", "CONTENT", "DOC_ID")
    val landing = Files.createDirectories(ctx.dir.resolve("landing"))
    val goldCommits = new java.util.concurrent.atomic.AtomicLong

    val toSilver = silverOf(spark.readStream.schema(Schemas.bronzeRaw)
        .json(landing.toString), streaming = true)
      .writeStream.format("lake")
      .option("basePath", base).option("layer", "silver")
      .option("deduped", "true").option("dedupIndex", "dix")
      .option("checkpointLocation", ctx.dir.resolve("ck-silver").toString)
      .start()
    val toGold = spark.readStream
      .format("newspipe.io.source.LakeChangeSource")
      .option("basePath", base).option("layer", "silver").load()
      .writeStream
      .option("checkpointLocation", ctx.dir.resolve("ck-gold").toString)
      .foreachBatch { (delta: DataFrame, _: Long) =>
        Trace.span("ops.incremental_agg_s") {
          val current =
            if (lake.headVersion("gold").isDefined) lake.read("gold")
            else IncrementalAgg.compute(delta.limit(0), Keys, Sums)
          lake.writeAtomic(IncrementalAgg.applyDelta(current, delta, Keys, Sums), "gold")
          goldCommits.incrementAndGet()
          // every trigger lands a fresh gold snapshot: keep two, as
          // Pipeline.run does for its snapshot layers
          Trace.span("io.lake.vacuum_s")(lake.vacuum("gold", keep = 2))
        }
        ()
      }
      .start()
    // gold absorbs the seed corpus (the change feed's first batch)
    toSilver.processAllAvailable()
    toGold.processAllAvailable()
    new StreamState(ctx, lake, landing, toSilver, toGold, goldCommits, seed)
  }
}

final class StreamState(ctx: Ctx, lake: Lake, landing: java.nio.file.Path,
    toSilver: StreamingQuery, toGold: StreamingQuery,
    goldCommits: java.util.concurrent.atomic.AtomicLong, seed: Slice) extends State {
  import StreamDedup._
  private val spark = ctx.spark
  private val sent = mutable.ArrayBuffer(seed)
  /** Gold's row total read through SQL after each operation. */
  private val goldTotals = mutable.ArrayBuffer.empty[Long]
  private val goldSql = s"SELECT SUM(`${IncrementalAgg.CountCol}`) " +
    s"FROM lake.`${ctx.dir.resolve("lake")}`.gold"
  private var current: Slice = _
  private val seedRows = silverCount()
  private var landed = 0L
  private var offered = 0L
  private val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var addBatchSilverMs = 0.0
  private var commits = 0L
  private var resolveMs = 0.0
  private var resolves = 0
  /** Last batch ids of both queries and the commit count before the
    * current operation, so a probe counts only its own operation.
    */
  private var batchesBefore = Map.empty[StreamingQuery, Long]
  private var commitsBefore = 0L

  /** Commits so far: silver keeps every snapshot, gold is vacuumed. */
  private def commitCount(): Long =
    lake.listVersions("silver").size + goldCommits.get()

  private def silverCount(): Long = lake.read("silver").count()

  def opName(i: Int): String = s"slice ${i + 1}"

  override def prepare(i: Int): Unit = {
    current = ctx.inputs.slice(i + 1, SliceRows)
    batchesBefore = Seq(toSilver, toGold).map(q =>
      q -> Option(q.lastProgress).map(_.batchId).getOrElse(-1L)).toMap
    commitsBefore = commitCount()
  }

  def op(i: Int): Long = {
    val staged = landing.resolve(s".slice-${i + 1}.json")
    Files.writeString(staged, current.lines.mkString("\n"), StandardCharsets.UTF_8)
    Files.move(staged, landing.resolve(s"slice-${i + 1}.json"),
      StandardCopyOption.ATOMIC_MOVE)
    Trace.span("streaming.trigger_s")(toSilver.processAllAvailable())
    Trace.span("streaming.changefeed_trigger_s")(toGold.processAllAvailable())
    val df = Trace.span("sql.analyze_ms")(spark.sql(goldSql))
    goldTotals += Trace.span("sql.execute_ms")(df.collect()).head.getLong(0)
    sent += current
    current.lines.size.toLong
  }

  /** Traced run: the `functions` layer on the slice's articles, snapshot
    * resolution of the two layers, the operation's commits and its
    * triggers' progress phases, and the index's landing counts so far.
    */
  override def probe(i: Int): Unit = {
    val raw = JsonSource.fromJsonLines(spark, current.lines).localCheckpoint()
    FunctionsProbe(raw, "title", "content")
    raw.unpersist()
    Seq("silver", "gold").foreach { layer =>
      val t0 = System.nanoTime()
      lake.read(layer)
      resolveMs += (System.nanoTime() - t0) / 1e6
      resolves += 1
    }
    commits += commitCount() - commitsBefore
    Seq(toSilver, toGold).foreach { q =>
      q.recentProgress.filter(p => p.batchId > batchesBefore(q) &&
          p.durationMs.containsKey("addBatch")).foreach { p =>
        p.durationMs.asScala.foreach { case (k, v) => phaseMs(k) += v.doubleValue }
        if (q eq toSilver) addBatchSilverMs += p.durationMs.get("addBatch").doubleValue
      }
    }
    landed = silverCount() - seedRows
    offered = sent.tail.map(_.lines.size.toLong).sum
  }

  def check(): Seq[String] = {
    val gold = lake.read("gold").collect().map(_.toString).sorted.toSeq
    val want = IncrementalAgg.compute(lake.read("silver"), Keys, Sums)
      .select(lake.read("gold").columns.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).sorted.toSeq
    val silver = lake.read("silver")
    val rows = silver.count()
    val urls = silver.select("URL").distinct().count()
    val goldTotal = lake.read("gold").agg(sum(IncrementalAgg.CountCol)).head().getLong(0)
    // the seed corpus is written whole; later slices land through the index
    val minLanded = seedRows + sent.tail.map(_.mustLand.toLong).sum
    val maxLanded = seedRows + sent.tail.map(s => s.rows - s.nearDups).sum
    Runner.log(s"$name: silver holds $rows rows; the slices allow $minLanded to $maxLanded")
    Seq(
      if (gold == want) None
      else Some(s"streamed gold (${gold.size} groups) differs from " +
        s"IncrementalAgg.compute over the final silver (${want.size} groups)"),
      if (rows == urls) None else Some(s"silver holds $rows rows but $urls URLs"),
      if (rows <= maxLanded) None
      else Some(s"silver holds $rows rows; the planted near-duplicates allow at most $maxLanded"),
      if (rows >= minLanded) None
      else Some(s"silver holds $rows rows; articles no correct dedup drops make at least $minLanded"),
      // the SQL answer against its DataFrame twin and against silver
      if (goldTotals.lastOption.contains(goldTotal)) None
      else Some(s"gold's row total through SQL is ${goldTotals.lastOption}, " +
        s"through the DataFrame API $goldTotal"),
      if (goldTotal == rows) None else Some(s"gold counts $goldTotal rows, silver holds $rows"),
      if (goldTotals.zip(goldTotals.drop(1)).forall { case (a, b) => a <= b }) None
      else Some(s"gold's row total fell between operations: ${goldTotals.mkString(" ")}")
    ).flatten
  }

  override def layerMetrics(ops: Int, executions: Seq[Execution])
      : (Map[String, Double], Seq[String]) = (Map(
    "io.index.append_deduped_s" -> addBatchSilverMs / 1e3 / ops,
    "io.index.landed_ratio" -> (if (offered > 0) landed.toDouble / offered else 0.0),
    "io.index.dropped_rows" -> (offered - landed).toDouble / math.max(1, sent.size - 1),
    "io.lake.commits" -> commits.toDouble / ops,
    "io.lake.snapshot_resolve_ms" -> resolveMs / math.max(1, resolves),
    "streaming.addBatch_ms" -> phaseMs("addBatch") / ops,
    "streaming.getBatch_ms" -> phaseMs("getBatch") / ops,
    "streaming.latestOffset_ms" -> phaseMs("latestOffset") / ops,
    "streaming.queryPlanning_ms" -> phaseMs("queryPlanning") / ops,
    "streaming.walCommit_ms" -> phaseMs("walCommit") / ops), Nil)

  override def lakeBytesPerInputByte: Double =
    Runner.dirBytes(ctx.dir.resolve("lake")).toDouble / sent.map(_.bytes).sum

  def close(): Unit = {
    Seq(toSilver, toGold).foreach(q => try q.stop() catch { case _: Exception => () })
    Runner.deleteTree(ctx.dir)
  }
}
