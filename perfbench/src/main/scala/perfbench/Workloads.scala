package perfbench

import Main._
import graft.sources.GrantStore
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The benchmark's workloads. Both run the same phases one after the
  * other, so no phase's load leaks into another's numbers and every
  * end-to-end metric is measured on each:
  *
  *  1. drain: a closed loop keeps [[Backlog]] unclaimed files of a seeded,
  *     flipping feed in the watched directory while the grants stream
  *     drains them into the store (`ingest_eps`, `fresh_ms_*`);
  *  2. backfill and read, [[Rebuilds]] rounds with the stream stopped:
  *     the batch path rebuilds the store from everything it was fed
  *     (`backfill_s` is the median), and every rebuild is also an oracle
  *     the final store must equal; then closed-loop clients send
  *     [[RoundChecks]] check batches over the store the drain left
  *     (`check_ms_*` and `lookups_per_s` over the checks of every round).
  *     Spread over the rounds, the reads sample more than one stretch of
  *     a shared host's speed.
  *
  * They differ in the store the feed lands in:
  *
  *  - `ingest`: an empty store; the readers check the feed's users.
  *  - `serve`: a store built in set-up by the batch path from a long
  *    history of a large population, so bucket pruning matters; the
  *    feed's users are disjoint from it, and the readers check the
  *    backfilled users.
  */
object Workloads {

  trait Workload { def run(loop: Loop, seed: Long, seconds: Int): Result }

  val names: Seq[String] = Seq("ingest", "serve")
  def apply(name: String): Workload = name match {
    case "ingest" => new Phases(None)
    case "serve" => new Phases(Some(ServeHistory))
  }

  // Shared shape. Changing any of these changes what the benchmark
  // measures: a new baseline must be taken.
  val CheckSize = 8          // (user, feature) pairs per check call
  val FlipShare = 0.3        // share of feed users whose grants flip and flip back
  val DupShare = 0.03        // share of feed rows redelivered as exact duplicates
  val ColdShare = 0.75       // share of check users no store row exists for (the reference's mix)
  val ZipfSkew = 1.1         // skew of the checked users
  val FeedT0: Long = 1767225600L * 1000000L            // 2026-01-01T00:00Z, µs
  val HistoryT0: Long = FeedT0 - 30L * 24 * 3600 * 1000000L
  val ColdBase = 1L << 50

  val FeedUsers = 2000
  val EventsPerFile = 60     // small files, so freshness rests on a hundred samples per run
  val FilesPerTrigger = 64   // 3840 events per micro-batch
  val Backlog = 128          // closed loop: unclaimed files kept in the feed directory
  val NominalEps = 1000      // sizes the feed from --seconds; never measured at run time
  val WarmChecks = 8         // checks in set-up
  val Rebuilds = 3           // rounds of a batch rebuild and a read
  val RoundChecks = 8        // checks in each read round
  val ReadChecks: Int = Rebuilds * RoundChecks
  def readThreads: Int = math.max(1, cores / 2) // more only queue behind each other

  /** `serve`'s history: 10k users, about 50k events over 16 files. */
  val ServeHistory: Feed.Population =
    Feed.Population(10000000L, 10000, 4, FlipShare, 0.0, 16, 1L << 44, HistoryT0)

  /** The feed of a run that drains `files` files. */
  def feedPopulation(files: Int): Feed.Population =
    Feed.Population(1000000L, FeedUsers, files * EventsPerFile / FeedUsers, FlipShare, DupShare,
      files, 1L << 40, FeedT0)

  val grantsSchema = StructType(Seq(StructField("user_id", LongType, nullable = false),
    StructField("feature", StringType), StructField("has_grant", BooleanType)))

  // ----------------------------------------------------------------- parts

  /** What the store holds before the feed: the event files it was built
    * from, their expected grants and the circuits the build returned. */
  final case class Base(inputs: Seq[Path], model: Map[Long, (Boolean, Boolean)],
                        circuits: Map[String, Boolean])

  /** What a set-up leaves for the measured phases. */
  final case class Setup(table: String, stream: Loop.Stream, staging: Path, feed: Feed.Timeline,
                         base: Base)

  /** Run `body`; returns its result and its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Run `body` and note its wall time under `name` in the result. */
  def phase[T](res: Result, name: String)(body: => T): T = {
    val (r, t) = timed(body)
    res.notes.add(f"$name: $t%.3f s")
    r
  }

  def writeFile(t: Feed.Timeline, i: Int, dir: Path): Path = {
    val p = dir.resolve(f"events-$i%05d.parquet")
    Feed.writeParquet(p, t.files(i))
    p
  }

  /** Expected answer for a checked pair. */
  def expect(grants: Map[Long, (Boolean, Boolean)], circuits: Map[String, Boolean],
             user: Long, feature: String): (Boolean, Boolean) = {
    val (p, m) = grants.getOrElse(user, (true, true))
    val g = if (feature == "purchase") p else m
    (g, circuits.getOrElse(feature, false) || g)
  }

  /** `n` closed-loop check clients: each thread sends its next check when
    * the previous one returned, until `checks` checks (request ids from
    * `first` on) were sent. Every answer is checked against `grants`.
    * Returns (latencies in ms of the checks that answered, answers, wall
    * seconds). */
  def clients(loop: Loop, res: Result, n: Int, table: String, circuits: Map[String, Boolean],
              reqs: Feed.Requests, grants: Map[Long, (Boolean, Boolean)],
              checks: Int, first: Long = 1L): (Seq[Double], Long, Double) = {
    val lat = new ConcurrentLinkedQueue[Double]()
    val answers = new AtomicLong
    val issued = new AtomicLong(first - 1)
    val cframe = loop.circuitsFrame(circuits)
    val t0 = System.nanoTime()
    val threads = (0 until n).map { _ =>
      new Thread(() => {
        var i = issued.incrementAndGet()
        while (i < first + checks) {
          val batch = reqs.next(CheckSize)
          res.attempted.incrementAndGet()
          val t = System.nanoTime()
          try {
            val rows = loop.check(table, cframe, batch, i)
            lat.add((System.nanoTime() - t) / 1e6)
            answers.addAndGet(rows.length)
            val got = rows.map(r => (r.getLong(0), r.getString(1)) -> (r.getBoolean(2), r.getBoolean(4))).toMap
            val ok = rows.length == batch.length && batch.forall { case (u, f) =>
              got.get((u, f)).contains(expect(grants, circuits, u, f)) }
            if (!ok) res.fail(s"check $i: wrong answer for ${batch.mkString(" ")}")
          } catch {
            case scala.util.control.NonFatal(e) => res.fail(s"check $i failed: $e")
          }
          i = issued.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (lat.asScala.toSeq, answers.get, (System.nanoTime() - t0) / 1e9)
  }

  /** The final store must equal a batch rebuild of everything it was fed
    * (a missing row reads as the default grant), and both must equal the
    * model. Each compared key is one attempted operation. */
  def oracle(res: Result, store: Map[(Long, String), Boolean], rebuilt: Map[(Long, String), Boolean],
             model: Map[Long, (Boolean, Boolean)]): Unit = {
    val keys = store.keySet ++ rebuilt.keySet ++
      model.keySet.flatMap(u => Seq(u -> "purchase", u -> "message"))
    keys.foreach { k =>
      res.attempted.incrementAndGet()
      val s = store.getOrElse(k, true); val b = rebuilt.getOrElse(k, true)
      val m = model.get(k._1).map(g => if (k._2 == "purchase") g._1 else g._2).getOrElse(true)
      if (s != b || b != m) res.fail(s"store/rebuild/model disagree on $k: $s/$b/$m")
    }
    res.attempted.incrementAndGet()
    if (rebuilt.size != model.size * 2) res.fail(s"rebuild holds ${rebuilt.size} rows, model ${model.size * 2}")
    res.oracleOk = true
  }

  /** Read metrics over every check of the read rounds, each round
    * (latencies in ms, answers, wall seconds). */
  def latencyMetrics(res: Result, rounds: Seq[(Seq[Double], Long, Double)]): Unit = {
    val lat = rounds.flatMap(_._1)
    res.notes.add("read rounds (checks, answers/s): " + rounds.map(r => f"${r._1.size} ${r._2 / r._3}%.2f").mkString(" | "))
    if (lat.size < ReadChecks) res.fail(s"only ${lat.size} of $ReadChecks checks answered")
    res.metric("lookups_per_s", rounds.map(_._2).sum / rounds.map(_._3).sum, "1/s")
    res.metric("check_ms_p50", quantile(lat, 0.5), "ms")
    res.metric("check_ms_p90", quantile(lat, 0.9), "ms")
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Per-layer metrics of a traced run (zeros where a layer did no
    * work). Stream and check spans count from `since` (the start of the
    * drain); batch spans count wherever they ran. */
  def layers(loop: Loop, res: Result, progress: Progress, s: Setup, firstBatch: Long,
             available: Map[String, Long], since: Long, gcDelta: Long): Unit = {
    val tr = loop.tracer
    val spans = tr.all
    val cores = loop.spark.sparkContext.defaultParallelism
    val batches = progress.dataBatches(s.stream.q.id, firstBatch)
    val files = loop.batchFiles(s.stream.feed)
    def meanSpan(name: String, from: Long = since) =
      mean(spans.filter(x => x.name == name && x.start >= from).map(_.ms))
    def ids(name: String) = spans.filter(x => x.name == name && x.start >= since).map(_.id).toSet
    def per(n: Long, d: Long) = if (d == 0) 0.0 else n.toDouble / d
    val checks = ids("check").size.toLong
    val upserts = ids("grantstore.upsert").size.toLong
    val shape = loop.storeShape(s.table)
    val storeRows = GrantStore.read(loop.spark, s.table).count()
    val consumedBefore = files.toSeq.sortBy(_._1)
      .scanLeft(0L -> 0)((acc, b) => (b._1 + 1) -> (acc._2 + b._2.size)).toMap
    val lag = batches.map { p =>
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      (available.count(_._2 <= at) - consumedBefore.getOrElse(p.batchId, 0)).toDouble max 0.0
    }
    val state = batches.flatMap(_.stateOperators.headOption)
    def l(n: String, v: Double, u: String) = res.perLayer(n, v, u)
    l("source.offset_ms", mean(batches.map(p => progress.dur(p, "latestOffset") + progress.dur(p, "getBatch"))), "ms")
    l("source.rows_per_batch", mean(batches.map(_.numInputRows.toDouble)), "count")
    l("source.lag_files", mean(lag), "count")
    l("microbatch.count", batches.size, "count")
    l("microbatch.trigger_ms", mean(batches.map(progress.dur(_, "triggerExecution"))), "ms")
    l("microbatch.planning_ms", mean(batches.map(progress.dur(_, "queryPlanning"))), "ms")
    l("microbatch.wal_ms", mean(batches.map(p => progress.dur(p, "walCommit") + progress.dur(p, "commitOffsets"))), "ms")
    l("pipeline.fold_ms", meanSpan("pipeline.fold"), "ms")
    l("pipeline.state_update_ms", mean(state.map(_.allUpdatesTimeMs.toDouble)), "ms")
    l("pipeline.state_commit_ms", mean(state.map(_.commitTimeMs.toDouble)), "ms")
    l("pipeline.state_rows", state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    l("pipeline.state_bytes", loop.bytesUnder(loop.checkpoint(s.stream.feed).resolve("state")).toDouble, "B")
    l("pipeline.flips_per_event", per(tr.counter("pipeline.flips"), batches.map(_.numInputRows).sum), "1")
    l("grantstore.upsert_ms", meanSpan("grantstore.upsert"), "ms")
    l("grantstore.upsert_skipped", tr.counter("grantstore.upsert_skipped").toDouble, "count")
    l("grantstore.delta_rows", per(tr.counter("grantstore.delta_rows"), upserts), "count")
    l("grantstore.collapse_ratio", per(tr.counter("grantstore.delta_rows"), tr.counter("pipeline.flips")), "1")
    l("grantstore.buckets_touched", per(tr.counter("grantstore.buckets_touched"),
      upserts - tr.counter("grantstore.upsert_skipped")), "count")
    l("grantstore.files_per_bucket", shape.files.size.toDouble / Loop.Buckets, "count")
    l("grantstore.bytes_per_row", per(shape.bytes, storeRows), "B")
    l("grantstore.materialize_ms", meanSpan("grantstore.materialize", 0L), "ms")
    l("readkeys.ms", meanSpan("readkeys"), "ms")
    l("readkeys.files_scanned", per(tr.counter("readkeys.files"), checks), "count")
    l("readkeys.rows_per_key", per(tr.counter("readkeys.rows"), tr.counter("readkeys.keys")), "count")
    l("access.check_ms", meanSpan("access"), "ms")
    l("access.jobs_per_check", per(tr.credit.sum(ids("access"))(_.jobs), checks), "count")
    l("batchops.per_user_ms", meanSpan("batchops.per_user", 0L), "ms")
    l("batchops.grants_ms", meanSpan("batchops.grants", 0L), "ms")
    l("batchops.circuit_ms", meanSpan("batchops.circuit", 0L), "ms")
    l("batchops.shuffle_bytes", tr.credit.sum(tr.subtreeIds("batchops"))(_.shuffleBytes).toDouble, "B")
    val run = tr.credit.sumAll(_.runMs)
    val wallMs = (spans.map(_.end).max - spans.map(_.start).min) / 1e6
    l("spark.jobs", tr.credit.sumAll(_.jobs).toDouble, "count")
    l("spark.task_run_ms", run.toDouble, "ms")
    l("spark.idle_share", 1.0 - run / (wallMs * cores), "1")
    l("spark.shuffle_bytes", tr.credit.sumAll(_.shuffleBytes).toDouble, "B")
    l("spark.spill_bytes", tr.credit.sumAll(_.spillBytes).toDouble, "B")
    l("jvm.gc_ms", gcDelta.toDouble, "ms")
    l("client.threads", readThreads, "count")
    res.traceJson = Some(tr.toJson)
  }

  /** `ingest_eps` over the micro-batches from `firstBatch` (drain start
    * `t0` to the last publish) and the freshness of each feed file: from
    * `since(file)` to the publish of the micro-batch that carried it. */
  def streamMetrics(loop: Loop, res: Result, st: Loop.Stream, firstBatch: Long, t0: Long,
                    rows: Long, since: Map[String, Long]): Unit = {
    val measured = st.published.filter(_._1 >= firstBatch)
    res.attempted.addAndGet(measured.size)
    res.metric("ingest_eps", rows / ((measured.values.max - t0) / 1e9), "1/s")
    val pub = loop.batchFiles(st.feed).toSeq.flatMap { case (b, fs) =>
      st.published.get(b).toSeq.flatMap(t => fs.map(_ -> t)) }.toMap
    val fresh = since.toSeq.map { case (f, t) =>
      (pub.getOrElse(f, throw new IllegalStateException(s"feed file $f was never published")) - t) / 1e6
    }
    res.metric("fresh_ms_p50", quantile(fresh, 0.5), "ms")
    res.metric("fresh_ms_p90", quantile(fresh, 0.9), "ms")
  }

  /** Drop the warm-up files, start the stream and drain them. */
  def warmStream(loop: Loop, tl: Feed.Timeline, table: String, mtime0: Long): (Loop.Stream, Path) = {
    val feed = loop.feedDir("feed")
    val staging = Files.createDirectories(loop.dir.resolve("staging"))
    (0 until FilesPerTrigger).foreach(i => drop(writeFile(tl, i, staging), feed, mtime0 + i * 1000L))
    val st = loop.startStream(feed, table, FilesPerTrigger)
    awaitIdle(st.q)
    (st, staging)
  }

  // ----------------------------------------------------------------- phases

  /** The phases of both workloads; `history` is the population the store
    * is built from in set-up (`serve`), or `None` for an empty store
    * (`ingest`). */
  final class Phases(history: Option[Feed.Population]) extends Workload {

    /** The users the readers check. */
    private def hot(base: Base, feedModel: Map[Long, (Boolean, Boolean)]): Array[Long] =
      (if (history.isEmpty) feedModel else base.model).keys.toArray.sorted

    private def buildBase(loop: Loop, res: Result, table: String, seed: Long): Base = history match {
      case None =>
        GrantStore.materialize(loop.spark.createDataFrame(loop.spark.sparkContext.emptyRDD[Row], grantsSchema),
          table, Loop.Buckets)
        Base(Seq.empty, Map.empty, Map.empty)
      case Some(pop) =>
        val hist = Feed.generate(pop, seed)
        val dir = Files.createDirectories(loop.dir.resolve("history"))
        phase(res, "setup: history files")(hist.files.indices.foreach(i => writeFile(hist, i, dir)))
        val circuits = loop.backfill(Seq(dir), table)
        val model = Feed.expectedGrants(hist, pop.files)
        val expected = Feed.expectedCircuits(hist, model)
        res.attempted.incrementAndGet()
        if (circuits != expected) res.fail(s"circuits $circuits differ from the model's $expected")
        Base(Seq(dir), model, circuits)
    }

    def run(loop: Loop, seed: Long, seconds: Int): Result = {
      val res = new Result
      val files = FilesPerTrigger + seconds * NominalEps / EventsPerFile
      val progress = new Progress(loop.spark)
      val mtime0 = System.currentTimeMillis()
      val (s, setupS) = timed {
        val table = "grants"
        loop.assertFresh(table)
        val base = phase(res, "setup: store")(buildBase(loop, res, table, seed))
        val tl = Feed.generate(feedPopulation(files), seed)
        val (st, staging) = phase(res, "setup: stream")(warmStream(loop, tl, table, mtime0))
        // the read path reaches its steady speed only after a few dozen checks
        val warmModel = base.model ++ Feed.expectedGrants(tl, FilesPerTrigger)
        phase(res, "setup: checks")(clients(loop, res, readThreads, table, base.circuits,
          new Feed.Requests(hot(base, warmModel), ZipfSkew, ColdShare, ColdBase, seed), warmModel, WarmChecks))
        Setup(table, st, staging, tl, base)
      }
      res.setupS = setupS
      val firstBatch = s.stream.published.keys.max + 1
      val gc0 = gcMs()
      loop.tracer.resetCounters()

      // drain, closed loop: keep Backlog unclaimed files in the feed directory
      val available = scala.collection.mutable.Map.empty[String, Long]
      val availableMs = scala.collection.mutable.Map.empty[String, Long]
      val t0 = System.nanoTime()
      phase(res, "drain")(loop.tracer.rootSpan("workload") {
        var moved = FilesPerTrigger
        while (moved < files) {
          if (moved - loop.claimedFiles(s.stream.feed) < Backlog) {
            val p = writeFile(s.feed, moved, s.staging)
            drop(p, s.stream.feed, mtime0 + moved * 1000L)
            available(p.getFileName.toString) = System.nanoTime()
            availableMs(p.getFileName.toString) = System.currentTimeMillis()
            moved += 1
          } else Thread.sleep(20)
        }
        awaitIdle(s.stream.q)
      })
      streamMetrics(loop, res, s.stream, firstBatch, t0,
        s.feed.events(files) - s.feed.events(FilesPerTrigger), available.toMap)
      // live heap at the end of the drain: the stream idle, its state loaded
      res.metric("heap_after_gc_mb", liveHeapMb(), "MB")
      s.stream.q.stop()
      val gcDelta = gcMs() - gc0

      // backfill and read, in rounds: a rebuild of everything the store
      // was fed into a fresh table, which is also an oracle of the final
      // store, then checks over the store the drain left, alone; every
      // read round thus starts from the same kind of phase
      val feedModel = Feed.expectedGrants(s.feed, files)
      val model = s.base.model ++ feedModel
      val reqs = new Feed.Requests(hot(s.base, feedModel), ZipfSkew, ColdShare, ColdBase, seed + 1)
      val store = loop.storeRows(s.table)
      val rounds = (0 until Rebuilds).map { i =>
        val table = s"rebuild${i + 1}"
        loop.assertFresh(table)
        val (_, t) = timed(loop.tracer.rootSpan("rebuild")(loop.backfill(s.base.inputs :+ s.stream.feed, table)))
        phase(res, s"oracle ${i + 1}")(oracle(res, store, loop.storeRows(table), model))
        val read = loop.tracer.rootSpan("serve") {
          clients(loop, res, readThreads, s.table, s.base.circuits, reqs, model, RoundChecks, i * RoundChecks + 1)
        }
        (read, t)
      }
      latencyMetrics(res, rounds.map(_._1))
      res.notes.add(s"rebuilds: ${rounds.map(_._2).mkString(" ")} s")
      res.metric("backfill_s", median(rounds.map(_._2)), "s")
      if (loop.tracer.enabled) layers(loop, res, progress, s, firstBatch, availableMs.toMap, t0, gcDelta)
      res
    }
  }
}
