package perfbench

import java.util.SplittableRandom

/** Seeded input generator for the feature-store loop benchmark, plus
  * the plain-Scala model the answers are checked against.
  *
  * Events follow the engine's default config (`graft.config.DefaultConfig`):
  * feature `message` needs fewer than 15 errors; feature `purchase`
  * also needs error amount / purchase amount < 1 once purchases reach
  * 500. A "flipping" user alternates error and purchase amounts so the
  * ratio crosses 1 in both directions, and a quarter of them also pass
  * 15 errors, so both grants really flip. Every other user stays
  * granted. Amounts are whole numbers, so sums are exact in any order
  * and stream, batch and model agree bit for bit.
  *
  * Event times advance across files: file `i` covers
  * `[t0 + i·span, t0 + (i+1)·span)` with a one-minute span, far inside
  * the pipeline's 15-minute watermark, so no original event is ever
  * late. A duplicate is an exact copy of an earlier event, redelivered
  * in the same or the next file; both the stream (watermark dedup) and
  * the batch path (`dropDuplicates(event_id)`) must drop it.
  */
object Feed {

  val Types: Array[String] = Array("click", "view", "signup", "purchase", "error")
  private final val Click = 0; private final val View = 1; private final val Signup = 2
  private final val Purchase = 3; private final val Error = 4

  /** One event; `k` is the click property (`props = {"k":k}`), −1 for none. */
  final case class Ev(id: Long, tsMicros: Long, user: Long, etype: Int,
                      value: Double, k: Int) {
    def props: String = if (k >= 0) s"""{"k":$k}""" else "{}"
  }

  /** A population of users and the files their events are cut into.
    * Users are `firstUser until firstUser + users`; event ids start at
    * `firstEventId`, so populations built with disjoint ranges never
    * share a user or an event. */
  final case class Population(firstUser: Long, users: Int, eventsPerUser: Int,
                              flipShare: Double, dupShare: Double, files: Int,
                              firstEventId: Long, t0Micros: Long,
                              fileSpanMicros: Long = 60L * 1000 * 1000)

  /** The generated feed: `files(i)` holds file i's rows (duplicates
    * included) in time order; `originals(i)` the same rows without
    * duplicates, for the model. */
  final case class Timeline(pop: Population, files: Array[Array[Ev]],
                            originals: Array[Array[Ev]]) {
    def events(upTo: Int): Long = files.iterator.take(upTo).map(_.length.toLong).sum
  }

  def generate(pop: Population, seed: Long): Timeline = {
    val rng = new SplittableRandom(seed ^ pop.firstUser * 0x9E3779B97F4A7C15L)
    val span = pop.files.toLong * pop.fileSpanMicros
    val perFile = Array.fill(pop.files)(Array.newBuilder[Ev])
    var nextId = pop.firstEventId
    var u = 0
    while (u < pop.users) {
      val user = pop.firstUser + u
      val seq = userSequence(rng, pop.eventsPerUser, rng.nextDouble() < pop.flipShare)
      val times = Array.fill(seq.length)(rng.nextLong(span))
      java.util.Arrays.sort(times)
      var i = 0
      while (i < seq.length) {
        val (etype, value, k) = seq(i)
        val f = (times(i) / pop.fileSpanMicros).toInt
        perFile(f) += Ev(nextId, pop.t0Micros + times(i), user, etype, value, k)
        nextId += 1
        i += 1
      }
      u += 1
    }
    val originals = perFile.map(_.result().sortBy(e => (e.tsMicros, e.id)))
    val files = originals.map { f => val b = Array.newBuilder[Ev]; b ++= f; b }
    originals.indices.foreach { f =>
      originals(f).foreach { e =>
        if (rng.nextDouble() < pop.dupShare) {
          val target = if (f + 1 < originals.length && rng.nextBoolean()) f + 1 else f
          files(target) += e
        }
      }
    }
    Timeline(pop, files.map(_.result().sortBy(e => (e.tsMicros, e.id))), originals)
  }

  /** (event type, value, click key) in time order for one user. */
  private def userSequence(rng: SplittableRandom, n: Int,
                           flipping: Boolean): Array[(Int, Double, Int)] = {
    val core = Array.newBuilder[(Int, Double, Int)]
    if (flipping) {
      var purchases = 500.0 + rng.nextInt(1, 101)
      var errors = 0.0
      core += ((Purchase, purchases, -1))
      val cycles = math.min(7, math.max(1, (n - 1) / 4))
      var c = 0
      while (c < cycles) {
        val up = purchases - errors + rng.nextInt(1, 51)
        errors += up
        core += ((Error, up, -1))
        val down = errors - purchases + rng.nextInt(1, 51)
        purchases += down
        core += ((Purchase, down, -1))
        c += 1
      }
      // a quarter of the flipping users pass 15 errors: `message` flips once
      if (rng.nextInt(4) == 0) (0 until 15).foreach(_ => core += ((Error, 1.0, -1)))
    } else {
      val small = math.min(5, n / 10)
      (0 until small).foreach(_ => core += ((Error, rng.nextInt(1, 6).toDouble, -1)))
    }
    val c = core.result()
    val out = new Array[(Int, Double, Int)](math.max(n, c.length))
    // the core keeps its order; fillers take the remaining positions
    val corePos = rng.ints(0, out.length).distinct().limit(c.length).toArray.sorted
    corePos.indices.foreach(i => out(corePos(i)) = c(i))
    var i = 0
    while (i < out.length) {
      // a flipping user's fillers carry no amounts, so only the core
      // moves the purchase/error ratio across 1
      if (out(i) == null) out(i) = rng.nextInt(if (flipping) 3 else 4) match {
        case 0 => (Click, 1.0, rng.nextInt(10))
        case 1 => (View, 1.0, -1)
        case 2 => (Signup, 1.0, -1)
        case _ => (Purchase, rng.nextInt(50, 151).toDouble, -1)
      }
      i += 1
    }
    out
  }

  /** Write `events` as one parquet file with the event table's schema
    * (`ts` as a UTC microsecond timestamp). Written with parquet-mr
    * directly, so the bytes depend only on the rows. */
  def writeParquet(path: java.nio.file.Path, events: Array[Ev]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(MICROS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val conf = new org.apache.hadoop.conf.Configuration()
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(path.toUri), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val gf = new SimpleGroupFactory(schema)
    try events.foreach { e =>
      w.write(gf.newGroup().append("event_id", e.id).append("ts", e.tsMicros)
        .append("user_id", e.user).append("event_type", Types(e.etype))
        .append("value", e.value).append("props", e.props))
    } finally w.close()
    // Hadoop's local filesystem leaves a .crc sidecar; the feed is the
    // parquet file alone
    java.nio.file.Files.deleteIfExists(
      path.resolveSibling("." + path.getFileName + ".crc"))
  }

  // ---------------------------------------------------------------- model

  /** Expected final grants per user over the original events of the
    * first `upTo` files: `user -> (purchase, message)`. An independent
    * restatement of the default config's rules: null ratio or a purchase
    * total under 500 abides; a missing aggregate is 0. */
  def expectedGrants(t: Timeline, upTo: Int): Map[Long, (Boolean, Boolean)] = {
    val acc = scala.collection.mutable.HashMap.empty[Long, Array[Double]]
    t.originals.iterator.take(upTo).flatten.foreach { e =>
      val a = acc.getOrElseUpdate(e.user, new Array[Double](3)) // purchases, error amount, errors
      if (e.etype == Purchase) a(0) += e.value
      else if (e.etype == Error) { a(1) += e.value; a(2) += 1 }
    }
    acc.iterator.map { case (u, a) =>
      val fewErrors = a(2) < 15
      val ratioLow = a(0) < 500 || a(1) / a(0) < 1.0
      u -> ((ratioLow && fewErrors, fewErrors))
    }.toMap
  }

  /** Expected circuit state per feature for a history built into the
    * store: the latest 10-minute window (5-minute slide) of the
    * access-attempt log, open when more than 5% of its distinct users
    * are denied. Every event is one attempt per feature whose success
    * is the user's final grant. */
  def expectedCircuits(t: Timeline, grants: Map[Long, (Boolean, Boolean)]): Map[String, Boolean] = {
    val all = t.originals.iterator.flatten.toSeq
    val slide = 5L * 60 * 1000 * 1000
    val start = Math.floorDiv(all.map(_.tsMicros).max, slide) * slide
    val users = all.filter(e => e.tsMicros >= start && e.tsMicros < start + 2 * slide)
      .map(_.user).distinct
    def open(denied: Long => Boolean): Boolean =
      users.count(denied).toDouble / users.size > 0.05
    Map("purchase" -> open(u => !grants(u)._1), "message" -> open(u => !grants(u)._2))
  }

  // ------------------------------------------------------------- requests

  /** Check requests: `(user_id, feature)` pairs, users Zipf-skewed over
    * `hot` (rank r drawn with weight 1/r^skew, ranks shuffled over the
    * population so hot users spread across buckets) or, with
    * probability `coldShare`, a user id no population contains. */
  final class Requests(hot: Array[Long], skew: Double, coldShare: Double,
                       coldBase: Long, seed: Long) {
    private val rng = new SplittableRandom(seed)
    private val order = {
      val a = hot.clone()
      var i = a.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    private val cdf = {
      val w = Array.tabulate(order.length)(r => 1.0 / math.pow(r + 1, skew))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def next(size: Int): Array[(Long, String)] = synchronized {
      Array.fill(size) {
        val user =
          if (rng.nextDouble() < coldShare) coldBase + rng.nextLong(1L << 40)
          else {
            val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
            order(math.min(if (i >= 0) i else -i - 1, order.length - 1))
          }
        (user, if (rng.nextBoolean()) "purchase" else "message")
      }
    }
  }
}
