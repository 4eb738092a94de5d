package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Row

/** The benchmark's own tests: the same seed generates identical inputs,
  * and every workload checker rejects a deliberately corrupted result.
  * (The analyst_sql DuckDB comparison is tested in test_perfbench.py.)
  * Exits non-zero when any test fails. No Spark session is needed.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable => e.printStackTrace(); false }
    println(s"${if (r) "ok  " else "FAIL"} $name")
    if (!r) failures += 1
  }

  def main(args: Array[String]): Unit = {
    test("fixtures: same seed gives identical rows, another seed differs") {
      val a = Gen.fixtures(7, 2000).digest
      a == Gen.fixtures(7, 2000).digest && a != Gen.fixtures(8, 2000).digest
    }
    test("corpus batch: same seed gives identical rows and planted truth") {
      val a = Gen.corpus(7, 3, 300).digest
      a == Gen.corpus(7, 3, 300).digest && a != Gen.corpus(7, 4, 300).digest
    }
    test("keyed table and change batches: same seed gives identical states") {
      def run(seed: Long) = {
        val k = new Gen.Keyed(seed, 1000)
        val batches = (1 to 3).map(r => k.batch(r, 0.02))
        Gen.digest(k.rows.iterator ++ batches.iterator)
      }
      run(5) == run(5) && run(5) != run(6)
    }
    test("events: same seed gives identical event sequences") {
      def d(seed: Long) = Gen.digest(Gen.events(seed, 5000, 0.05, 0.03, 50).iterator)
      d(3) == d(3) && d(3) != d(4)
    }

    test("versioned_commits checker rejects a corrupted snapshot") {
      val rows = new Gen.Keyed(1, 500).rows
      val digest = VersionedCommits.digestOf(rows)
      val changed = rows.updated(3, Row.fromSeq(rows(3).toSeq.updated(3, -1.0)))
      VersionedCommits.digestOf(rows.reverse) == digest &&
        VersionedCommits.digestOf(changed) != digest &&
        VersionedCommits.digestOf(rows.drop(1)) != digest
    }

    test("corpus_curation checkers reject a split duplicate and a missed neighbour") {
      val c = Gen.corpus(1, 1, 300)
      // the correct clustering: union-find over the planted pairs
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      c.dupPairs.foreach { case (a, b) => parent(find(b)) = find(a) }
      val good = c.docs.map(r => r.getLong(0) -> find(r.getLong(0))).toMap
      val victim = c.dupPairs.head._2
      val bad = good.updated(victim, -1L)
      val found = c.neighbours.toSet
      c.dupPairs.nonEmpty && CorpusCuration.splitPairs(c.dupPairs, good).isEmpty &&
        CorpusCuration.splitPairs(c.dupPairs, bad).nonEmpty &&
        CorpusCuration.missed(c.neighbours, found).isEmpty &&
        CorpusCuration.missed(c.neighbours, found - c.neighbours.head).nonEmpty
    }

    test("MinHash checker: shingles as the library forms them; a lost sure pair is rejected") {
      val c = Gen.corpus(1, 1, 300)
      val all = c.dupPairs.toSet
      val sure = c.dupPairs.filter { case (a, b) =>
        CorpusCuration.missedSure(c.docs, Seq((a, b)), Set.empty).nonEmpty }
      CorpusCuration.shingles(" A b\tc  D ") == Set("a b c", "b c d") &&
        sure.nonEmpty &&
        CorpusCuration.missedSure(c.docs, c.dupPairs, all).isEmpty &&
        CorpusCuration.missedSure(c.docs, c.dupPairs, all - sure.head) == Seq(sure.head)
    }

    test("event_stream checker accepts the recomputation and rejects corruptions") {
      val events = Gen.events(2, 4000, 0.05, 0.03, 50)
      val late = (i: Int) => i >= 800 && events(i).late
      val tsMs = (i: Int) => Gen.eventsEpoch + i * 1500L - (if (late(i)) 86400000L else 0L)
      // the correct sinks, recomputed independently of the checker
      val firstSeen = mutable.LinkedHashMap.empty[Long, Int]
      events.indices.foreach(i => if (!late(i)) firstSeen.getOrElseUpdate(events(i).id, i))
      val totals = mutable.HashMap.empty[Long, Double]
      val sinkA = firstSeen.values.map(events).filter(_.kind == "purchase").toSeq.map { e =>
        totals(e.user) = totals.getOrElse(e.user, 0.0) + e.value
        (e.user, e.id, totals(e.user))
      }
      val hour = 3600000L
      val sinkB = events.indices.filterNot(late)
        .groupBy(i => (Math.floorDiv(tsMs(i), hour) * hour, events(i).kind)).toSeq
        .map { case ((w, kind), is) =>
          Row(new Timestamp(w), kind, is.length.toLong,
            is.map(i => BigDecimal(events(i).value)).sum.toDouble)
        }
      def chk(a: Seq[(Long, Long, Double)], b: Seq[Row]) =
        EventStream.check(events, late, tsMs, a, b)
      val lateId = events.indices.find(late).map(events(_).id)
      chk(sinkA, sinkB).isEmpty &&
        chk(sinkA.drop(1), sinkB).nonEmpty &&
        chk(sinkA :+ sinkA.head, sinkB).nonEmpty &&
        chk(sinkA.map(x => (x._1, x._2, x._3 + 1.0)), sinkB).nonEmpty &&
        chk(sinkA :+ ((1L, lateId.get, 0.0)), sinkB).nonEmpty &&
        chk(sinkA, sinkB.updated(0, Row(sinkB.head.get(0), sinkB.head.get(1),
          sinkB.head.getLong(2) + 1, sinkB.head.getDouble(3)))).nonEmpty
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    if (failures > 0) sys.exit(1)
  }
}
