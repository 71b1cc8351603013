package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** Entry point of the feature-store loop benchmark.
  *
  * `perfbench.Main --workload <ingest|serve> --seed <n> --seconds <s>
  *   --trace <0|1> --dir <scratch dir> --out <artifact dir> [--stamp k=v]...`
  *
  * Prints one stamp line and, last, one result line
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`: the
  * end-to-end metrics untraced, the per-layer metrics traced. The full
  * result, with the stamp and (traced) the spans, is also written to
  * `--out`. See perfbench/README.md for the workloads and metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dir: Path, out: Path, stamp: Seq[(String, String)])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toSeq
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    val trace = one("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(one("workload"), one("seed").toLong, one("seconds").toInt, trace == "1",
      Path.of(one("dir")), Path.of(one("out")),
      kv.collect { case ("stamp", s) if s.contains('=') => s.span(_ != '=') match {
        case (k, v) => k -> v.drop(1) } })
  }

  /** Environment knobs that change what the engine runs; a run with any
    * of them set would not be comparable, so the benchmark refuses. */
  def knobs: Seq[String] =
    (sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")) ++
      graft.StreamBench.KnobKeys.filter(sys.env.contains)).toSeq.distinct.sorted

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.names.contains(a.workload),
      s"unknown workload '${a.workload}' (known: ${Workloads.names.mkString(", ")})")
    val set = knobs
    if (set.nonEmpty) {
      System.err.println(s"refusing to run: engine knobs set in the environment: ${set.mkString(", ")}")
      sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Files.createDirectories(a.dir.resolve("warehouse")).toUri.toString)
      .config("spark.local.dir", Files.createDirectories(a.dir.resolve("spark-local")).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val stamp = a.stamp ++ Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
      "trace" -> (if (a.trace) "1" else "0"), "nproc" -> cores.toString,
      "spark" -> spark.version, "jvm" -> System.getProperty("java.runtime.version"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)
    val r = try {
      val tracer = new Tracer(a.trace, spark.sparkContext)
      val loop = new Loop(spark, a.dir, tracer)
      val res = Workloads(a.workload).run(loop, a.seed, a.seconds)
      res.notes.add(f"session: $sessionS%.3f s")
      res.metric("setup_s", sessionS + res.setupS, "s")
      res
    } catch {
      case scala.util.control.NonFatal(e) =>
        // no result line: a run that could not measure is not a result
        System.err.println(s"run failed: $e")
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    } finally spark.stop()
    val stampJson = stamp.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    val metrics = (if (a.trace) r.layer else r.e2e)
    val line = s"""{"correct":${r.correct},"attempted":${r.attempted.get},"failed":${r.failed.get},""" +
      s""""metrics":{${metrics.map { case (k, (v, u)) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",")}}}"""
    Files.createDirectories(a.out)
    val name = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"
    Files.writeString(a.out.resolve(name),
      s"""{"stamp":$stampJson,"result":$line,"error_rate":${fmt(r.errorRate)},""" +
        s""""notes":[${r.notes.asScala.map(str).mkString(",")}],""" +
        s""""end_to_end":{${r.e2e.map { case (k, (v, u)) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",")}},""" +
        s""""trace":${r.traceJson.getOrElse("null")}}""")
    println(s"""{"stamp":$stampJson}""")
    println(line)
    // Spark leaves non-daemon threads behind; the result is out
    sys.exit(0)
  }

  /** A JSON string literal. */
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def fmt(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"not a number: $v")
    java.math.BigDecimal.valueOf(v).toPlainString
  }

  // ------------------------------------------------------------------ result

  /** What one run measured. */
  final class Result {
    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val attempted = new AtomicLong
    val failed = new AtomicLong
    val notes = new ConcurrentLinkedQueue[String]()
    var setupS = 0.0
    var traceJson: Option[String] = None
    @volatile var oracleOk = false
    /** An end-to-end metric. Every one is a positive measure of work
      * done; anything else means nothing was measured, and the run fails. */
    def metric(name: String, v: Double, unit: String): Unit = {
      if (v.isNaN || v.isInfinite || v <= 0)
        throw new IllegalStateException(s"end-to-end metric $name came out as $v")
      e2e(name) = (v, unit)
    }
    def perLayer(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
    /** An operation that raised or answered wrongly: the run is not correct. */
    def fail(note: String): Unit = { failed.incrementAndGet(); if (notes.size < 20) notes.add(note) }
    def correct: Boolean = oracleOk && failed.get == 0 && attempted.get > 0
    def errorRate: Double = failed.get.toDouble / math.max(1L, attempted.get)
  }

  // --------------------------------------------------------------- measures

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = pos.toInt; val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Old-generation bytes the running system retains (MB): the least
    * old-generation usage seen right after each of three full
    * collections, 300 ms apart. Blocks of broadcasts and cached frames
    * that a collection made unreachable are released by Spark's cleaner
    * thread in between, so the least reading is the live set. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }.min

  /** Milliseconds the JVM has spent in garbage collection so far. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Collects every streaming progress report of the session. */
  final class Progress(spark: SparkSession) extends StreamingQueryListener {
    val reports = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(this)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      reports.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def dataBatches(query: java.util.UUID, fromBatch: Long): Seq[StreamingQueryProgress] =
      reports.asScala.toSeq.filter(p => p.id == query && p.batchId >= fromBatch && p.numInputRows > 0)
        .sortBy(_.batchId)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  }

  /** Move a staged feed file into the watched directory: its mtime is
    * set first (the file source takes files oldest first) and the move
    * is atomic, so the stream never sees a partial file. */
  def drop(staged: Path, feed: Path, mtimeMs: Long): Unit = {
    Files.setLastModifiedTime(staged, java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    Files.move(staged, feed.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  def awaitIdle(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.exception.foreach(e => throw e)
  }
}
