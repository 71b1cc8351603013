package perfbench

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class FeedSpec extends AnyFunSuite {

  /** The feed files of a 6-second run. */
  private val runFiles = Workloads.FilesPerTrigger + 6 * Workloads.NominalEps / Workloads.EventsPerFile

  private def writeAll(t: Feed.Timeline): Path = {
    val dir = Files.createTempDirectory("feedspec")
    t.files.indices.foreach(i => Workloads.writeFile(t, i, dir))
    dir
  }

  private def bytes(dir: Path): Seq[(String, Seq[Byte])] = {
    val l = Files.list(dir)
    try l.iterator().asScala.toSeq.map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
      .sortBy(_._1)
    finally l.close()
  }

  private def delete(dir: Path): Unit = {
    val w = Files.walk(dir)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }

  test("the same seed gives byte-identical feed files; another seed does not") {
    val pop = Workloads.feedPopulation(runFiles)
    val a = writeAll(Feed.generate(pop, 42))
    val b = writeAll(Feed.generate(pop, 42))
    val c = writeAll(Feed.generate(pop, 43))
    try {
      assert(bytes(a).map(_._1) == (0 until runFiles).map(i => f"events-$i%05d.parquet"))
      assert(bytes(a) == bytes(b))
      assert(bytes(a) != bytes(c))
    } finally Seq(a, b, c).foreach(delete)
  }

  test("feed files cover advancing event-time spans and duplicates repeat an earlier row") {
    val t = Feed.generate(Workloads.feedPopulation(runFiles), 7)
    val span = t.pop.fileSpanMicros
    t.originals.zipWithIndex.foreach { case (f, i) =>
      assert(f.forall(e => e.tsMicros >= t.pop.t0Micros + i * span &&
        e.tsMicros < t.pop.t0Micros + (i + 1) * span))
    }
    val seen = t.originals.flatten.map(e => e.id -> e).toMap
    val dups = t.files.zipWithIndex.flatMap { case (f, i) =>
      f.groupBy(_.id).values.filter(_.length > 1).map(_.head) ++
        f.filterNot(e => t.originals(i).exists(_.id == e.id))
    }
    assert(dups.nonEmpty)
    assert(dups.forall(d => seen(d.id) == d))
    val rows = t.files.map(_.length).sum.toDouble
    val share = (rows - seen.size) / rows
    assert(share > 0.5 * Workloads.DupShare && share < 2 * Workloads.DupShare, s"duplicate share $share")
  }

  test("the feed flips grants in nearly every micro-batch, so upserts are not skipped") {
    val perTrigger = Workloads.FilesPerTrigger
    val files = perTrigger * 12
    val t = Feed.generate(Workloads.feedPopulation(files), 11)
    val states = (0 to files by perTrigger).map(n => Feed.expectedGrants(t, n))
    val users = states.last.keySet
    def grant(s: Map[Long, (Boolean, Boolean)], u: Long) = s.getOrElse(u, (true, true))
    // the net delta a micro-batch upserts: keys whose grant differs at its end
    val deltas = states.sliding(2).map { case Seq(before, after) =>
      users.toSeq.map { u =>
        val (b, a) = (grant(before, u), grant(after, u))
        (if (b._1 != a._1) 1 else 0) + (if (b._2 != a._2) 1 else 0)
      }.sum
    }.toSeq
    val skipped = deltas.count(_ == 0)
    assert(skipped.toDouble / deltas.size <= 0.1, s"net deltas per batch: $deltas")
    // both features flip, and some grants flip back to true
    assert(states.last.values.exists(!_._1) && states.last.values.exists(!_._2))
    val flippedBack = users.count(u => states.exists(s => !grant(s, u)._1) && grant(states.last, u)._1)
    assert(flippedBack > 0)
  }

  test("check requests are skewed over the known users and carry the stated cold share") {
    val hot = (1L to 1000L).toArray
    val r = new Feed.Requests(hot, Workloads.ZipfSkew, Workloads.ColdShare, Workloads.ColdBase, 3)
    val reqs = (0 until 500).flatMap(_ => r.next(Workloads.CheckSize))
    val cold = reqs.count(_._1 >= Workloads.ColdBase).toDouble / reqs.size
    assert(math.abs(cold - Workloads.ColdShare) < 0.05, s"cold share $cold")
    val counts = reqs.filter(_._1 < Workloads.ColdBase).groupBy(_._1).values.map(_.size).toSeq.sorted
    assert(counts.last > 10 * counts(counts.size / 2), "users are not skewed")
    assert(reqs.map(_._2).toSet == Set("purchase", "message"))
    val again = new Feed.Requests(hot, Workloads.ZipfSkew, Workloads.ColdShare, Workloads.ColdBase, 3)
    assert((0 until 500).flatMap(_ => again.next(Workloads.CheckSize)) == reqs)
  }
}
