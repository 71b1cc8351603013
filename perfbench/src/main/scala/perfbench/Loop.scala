package perfbench

import graft.config.DefaultConfig
import graft.operators.{AccessService, EventAggregates, Grants, Windowed}
import graft.sources.{BucketedUpsert, GrantStore}
import graft.streaming.{EventPipeline, FileEventSource}
import graft.streaming.EventPipeline.GrantChange
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The feature-store loop as the benchmark drives it, through the
  * engine's public functions only:
  *
  *  - write: `FileEventSource.events` → `EventPipeline.grantChangesBounded`
  *    → foreachBatch `GrantStore.upsert`;
  *  - read: `BucketedUpsert.readKeys` → a fresh `AccessService` → `check`;
  *  - batch: `EventAggregates.perUser` → `Grants.longFromWide` and
  *    `Windowed.latestFeatureCircuit` → `GrantStore.materialize`.
  *
  * Every path lives under `dir` (warehouse, checkpoint, feed), which
  * the caller creates fresh per run and deletes afterwards.
  */
final class Loop(val spark: SparkSession, val dir: Path, val tracer: Tracer) {
  import Loop._
  import spark.implicits._

  val cfg = DefaultConfig.config
  val warehouse: Path = Path.of(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  /** Feed files land here; the stream watches it. */
  def feedDir(name: String): Path = Files.createDirectories(dir.resolve("feed-" + name))

  /** Refuse to measure a store adopted from an earlier run: the
    * warehouse must hold no publish marker for `table`, and adopting it
    * must find nothing. */
  def assertFresh(table: String): Unit = {
    require(!Files.exists(warehouse.resolve(table + ".graft_store")),
      s"warehouse $warehouse holds a leftover .graft_store marker for '$table'")
    require(!BucketedUpsert.adopt(spark, table), s"store '$table' was adopted from disk")
  }

  // ------------------------------------------------------------ batch path

  /** Rebuild `table` and the circuit state from the event files in the
    * directories `events`; returns the circuits `feature -> circuit_open`.
    * In a traced run the grants unpivot is materialized in its own span
    * so the batch steps split; otherwise it runs inside the materialize. */
  def backfill(events: Seq[Path], table: String): Map[String, Boolean] = tracer.span("backfill") {
    val ev = spark.read.parquet(events.map(_.toString): _*)
    val wide = Grants.wide(EventAggregates.perUser(ev, cfg.aggregates), cfg).cache()
    try {
      tracer.span("batchops.per_user")(wide.count())
      val circuits = tracer.span("batchops.circuit") {
        Windowed.latestFeatureCircuit(AccessService.attempts(ev, wide, cfg))
          .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      }
      val long = Grants.longFromWide(wide, cfg)
      if (tracer.enabled) tracer.span("batchops.grants")(long.cache().count())
      tracer.span("grantstore.materialize")(GrantStore.materialize(long, table, Buckets))
      long.unpersist(false)
      circuits
    } finally wide.unpersist(false)
  }

  /** The stored grants as `(user, feature) -> has_grant`. */
  def storeRows(table: String): Map[(Long, String), Boolean] =
    GrantStore.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap

  // ------------------------------------------------------------ write path

  /** Start the grants stream over `feed` (a directory of
    * `events-*.parquet`), upserting every micro-batch into `table`.
    * The foreachBatch body is the benchmark's: untraced it calls
    * `GrantStore.upsert` on the flips as they come; traced it first
    * materializes the flips, so the fold and the upsert split. */
  def startStream(feed: Path, table: String, maxFilesPerTrigger: Int): Stream = {
    val events = FileEventSource.events(spark, feed.toString, maxFilesPerTrigger, "events-*.parquet")
    val published = TrieMap.empty[Long, Long]
    val q = EventPipeline.grantChangesBounded(spark, events, cfg)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint(feed).toString)
      .foreachBatch { (batch: Dataset[GrantChange], id: Long) =>
        onBatch(batch, id, table)
        published.put(id, System.nanoTime())
        ()
      }
      .start()
    Stream(q, feed, published)
  }

  private def onBatch(batch: Dataset[GrantChange], id: Long, table: String): Unit = {
    val ss = batch.sparkSession
    if (!tracer.enabled) GrantStore.upsert(ss, batch.toDF(), table, Buckets, Some(id))
    else tracer.span("microbatch") {
      val before = storeShape(table)
      val flips = batch.toDF().persist()
      try {
        val raw = tracer.span("pipeline.fold")(flips.count())
        tracer.count("pipeline.flips", raw)
        tracer.count("grantstore.delta_rows", tracer.span("trace.count")(
          GrantStore.collapse(flips).count()))
        tracer.span("grantstore.upsert")(GrantStore.upsert(ss, flips, table, Buckets, Some(id)))
      } finally flips.unpersist(false)
      val after = storeShape(table)
      if (after.active == before.active) tracer.count("grantstore.upsert_skipped")
      else tracer.count("grantstore.buckets_touched",
        after.files.keySet.diff(before.files.keySet).map(bucketOf).size)
    }
  }

  // ------------------------------------------------------------- read path

  /** Serve one check batch: a bucket-pruned `readKeys` of the requested
    * users, then a fresh `AccessService` over exactly that frame. A
    * long-lived service would not do: its constructor caches its grants
    * frame, so it would keep answering from the generation it first saw
    * while the stream publishes new ones. The frame is unpersisted after
    * the check so cached probes do not pile up in the session. */
  def check(table: String, circuits: DataFrame, reqs: Array[(Long, String)],
            request: Long): Array[Row] = tracer.span("check", request) {
    val req = reqs.toSeq.toDF("user_id", "feature")
    val grants = tracer.span("readkeys")(
      BucketedUpsert.readKeys(spark, table, req, "user_id", Buckets))
    try {
      // counted before the service caches the frame, which hides its files
      if (tracer.enabled) tracer.count("readkeys.files", grants.inputFiles.length)
      val rows = tracer.span("access")(new AccessService(spark, grants, circuits).check(req).collect())
      if (tracer.enabled) {
        tracer.count("readkeys.rows", tracer.span("trace.count")(grants.count()))
        tracer.count("readkeys.keys", reqs.map(_._1).distinct.length)
      }
      rows
    } finally grants.unpersist(false)
  }

  def circuitsFrame(c: Map[String, Boolean]): DataFrame =
    c.toSeq.toDF("feature", "circuit_open")

  // ------------------------------------------------------------ store shape

  /** The store as its files show it: the served generation and its
    * bucket files with their sizes, read from the publish marker and a
    * listing of the warehouse. */
  def storeShape(table: String): Shape = {
    val marker = warehouse.resolve(table + ".graft_store")
    if (!Files.isRegularFile(marker)) Shape("", Map.empty)
    else {
      val p = new java.util.Properties()
      val in = Files.newInputStream(marker)
      try p.load(in) finally in.close()
      val active = p.getProperty("active")
      val genDir = warehouse.resolve(active)
      val l = if (Files.isDirectory(genDir)) Files.list(genDir) else java.util.stream.Stream.empty[Path]()
      val files = try l.iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString -> Files.size(f)).toMap
      finally l.close()
      Shape(active, files)
    }
  }

  /** Total bytes under a directory (the stream's state store). */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  def checkpoint(feed: Path): Path = dir.resolve("checkpoint-" + feed.getFileName)

  /** Lines of the JSON-lines metadata logs under `log` (`v1` headers
    * and anything else that is not an object skipped). */
  private def logLines(log: Path): Seq[(String, String)] =
    if (!Files.isDirectory(log)) Seq.empty
    else {
      val l = Files.list(log)
      try l.iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(f => Files.readAllLines(f).asScala.filter(_.startsWith("{"))
          .map(f.getFileName.toString -> _)).toSeq
      finally l.close()
    }

  /** Feed file names the file source has taken into a batch so far. */
  def claimedFiles(feed: Path): Int =
    logLines(checkpoint(feed).resolve("sources").resolve("0")).map(_._2).distinct.size

  /** Micro-batch id → feed file names. The file source's metadata log
    * (`sources/0`) numbers its entries by its own log offset; the
    * query's offset log (`offsets/<batch>`) records the log offset each
    * micro-batch read up to. */
  def batchFiles(feed: Path): Map[Long, Seq[String]] = {
    val ck = checkpoint(feed)
    val entries = logLines(ck.resolve("sources").resolve("0")).map(_._2).distinct.map { line =>
      val m = mapper.readTree(line)
      m.get("batchId").asLong() -> Path.of(java.net.URI.create(m.get("path").asText()))
        .getFileName.toString
    }
    val upTo = logLines(ck.resolve("offsets")).groupBy(_._1).toSeq.flatMap { case (f, ls) =>
      f.toLongOption.map(_ -> mapper.readTree(ls.last._2).get("logOffset").asLong())
    }.sortBy(_._1)
    upTo.zip((-1L) +: upTo.map(_._2)).map { case ((b, hi), lo) =>
      b -> entries.filter(e => e._1 > lo && e._1 <= hi).map(_._2).sorted
    }.toMap
  }
}

object Loop {
  val Buckets = 32
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A running grants stream; `published` holds when each micro-batch's
    * upsert returned (ns), by batch id. */
  final case class Stream(q: StreamingQuery, feed: Path, published: TrieMap[Long, Long])

  final case class Shape(active: String, files: Map[String, Long]) {
    def bytes: Long = files.values.sum
  }

  /** Bucket id in a bucketed-write file name (`…_00003.c000.snappy.parquet`). */
  def bucketOf(file: String): Int =
    "_(\\d{5})\\.".r.findFirstMatchIn(file).map(_.group(1).toInt).getOrElse(-1)
}
