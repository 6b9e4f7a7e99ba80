package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of the pipeline benchmark (launched by `perfbench/run.py`).
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     [--work <dir>]
  *
  * One process, one client thread, `local[4]`. Each workload is a closed
  * loop: the next operation is issued only after the previous one
  * completed. With `--trace 0` the run prints the end-to-end metrics; with
  * `--trace 1` every second timed operation is traced and the run prints
  * the per-layer metrics, including the tracing overhead against the
  * untraced operations in between. The last stdout line is the result
  * object; the exit code is 1 when an output check failed.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path)

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    require(seconds >= 1, s"--seconds must be >= 1, got $seconds")
    Args(need("workload"), need("seed").toLong, seconds, trace,
      Paths.get(kv.getOrElse("work", ".bench_build/work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workloads.byName.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload '${args.workload}' " +
        s"(known: ${Workloads.byName.keys.toSeq.sorted.mkString(", ")})"))
    Isolation.check(args.work)
    val spark = session(args.work)
    Isolation.checkLocalDirs(args.work)
    val outcome =
      try Runner.run(spark, workload, args)
      finally {
        spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
        spark.stop()
      }
    println(outcome.json)
    System.out.flush()
    if (!outcome.correct) sys.exit(1)
  }

  def session(work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "newspipe.NewspipeExtensions")
      .config("spark.sql.catalog.lake", "newspipe.io.LakeCatalog")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Temp isolation: the launcher points `java.io.tmpdir` at a directory of
  * the run's own; every temp root the engine or Spark creates must land
  * under the run's work directory, or the run fails.
  */
object Isolation {

  def check(work: Path): Unit = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    if (!tmp.startsWith(work))
      throw new IllegalStateException(
        s"java.io.tmpdir=$tmp is outside the run directory $work")
    Files.createDirectories(tmp)
    // the JDK resolves the temp root once per JVM: probe the resolved one
    val probe = Files.createTempDirectory("perfbench-probe")
    try {
      if (!probe.getParent.toAbsolutePath.equals(tmp))
        throw new IllegalStateException(
          s"temp directories land in ${probe.getParent}, not in $tmp")
    } finally Files.deleteIfExists(probe)
  }

  /** Spark's scratch (block manager) root must sit under `spark-local`:
    * an environment variable such as `SPARK_LOCAL_DIRS` would override
    * `spark.local.dir` silently.
    */
  def checkLocalDirs(work: Path): Unit = {
    val local = work.resolve("spark-local")
    val s = Files.list(local)
    val blockManager =
      try s.anyMatch(_.getFileName.toString.startsWith("blockmgr-"))
      finally s.close()
    if (!blockManager)
      throw new IllegalStateException(s"Spark created no block manager directory in $local")
  }
}
