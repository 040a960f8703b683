package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Random

/** The benchmark's own tests of its pure parts: generator determinism, the
  * tail-percentile rule and union-of-intervals driver time. Exits non-zero
  * on the first failure. (That a wrong expected value fails a run is
  * tested end to end by `perfbench/selftest.py`.) */
object SelfTest {
  private var passed = 0

  /** SHA-256 over every generated value, for the determinism test. */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(xs: Any*): Digest = { xs.foreach(x => md.update(String.valueOf(x).getBytes(UTF_8))); this }
    def det(d: Det): Digest = {
      d.images.foreach(i => add(i.id, i.width, i.height, i.path, i.split, i.tags.mkString(","), i.sequence))
      d.boxes.foreach(b => add(b.id, b.imageId, b.category, b.x, b.y, b.w, b.h, b.confidence))
      add(d.labelMap.toSeq.sortBy(_._1))
    }
    def hex: String = md.digest().map(b => f"$b%02x").mkString
  }

  private def test(name: String)(body: => Unit): Unit = {
    try body
    catch { case e: Throwable =>
      System.err.println(s"FAIL $name: $e")
      sys.exit(1)
    }
    passed += 1
    println(s"ok   $name")
  }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  private def detDigest(seed: Long): String = {
    val layout = Gen.detection(seed, Gen.DetParams(images = 300, invalidShare = 0.05,
      splitShares = Seq("train" -> 0.5)))
    val preds = Gen.predictions(seed, layout, Gen.ModelParams("m", 0.1, 0.1, 0.1, 1.0))
    new Digest().det(layout.det).det(layout.det.copy(boxes = preds.boxes))
      .add(preds.matchedSpecific, preds.matchedAgnostic).hex
  }

  private def corpusDigest(seed: Long): String = {
    val c = Gen.corpus(seed, Gen.DedupParams(docs = 500, exactFamilies = 20, nearFamilies = 30,
      megaCluster = 300, refDocs = 50, refPlanted = 10))
    val d = new Digest()
    (c.docs ++ c.ref).foreach(x => d.add(x.id, x.text))
    d.add(c.exactSurvivors, c.pairs, c.clusters, c.crossPairs).hex
  }

  def main(args: Array[String]): Unit = {
    test("generator: the same seed gives identical detection data and predictions") {
      check(detDigest(7) == detDigest(7), "digests differ for one seed")
      check(detDigest(7) != detDigest(8), "different seeds gave the same data")
    }
    test("generator: the same seed gives an identical corpus") {
      check(corpusDigest(7) == corpusDigest(7), "digests differ for one seed")
      check(corpusDigest(7) != corpusDigest(8), "different seeds gave the same corpus")
    }
    test("generator: planted corpus truth adds up") {
      val c = Gen.corpus(3, Gen.DedupParams(docs = 500, exactFamilies = 20, nearFamilies = 30,
        megaCluster = 300, refDocs = 50, refPlanted = 10))
      check(c.docs.map(_.id).distinct.size == 500, "doc ids not unique")
      check(c.docs.map(_.text).distinct.size == c.exactSurvivors, "exact survivors miscounted")
      check(c.clusters == 500 - 20 - 30 - 299, s"clusters ${c.clusters}")
    }
    test("generator: boxes of one image never overlap") {
      val d = Gen.detection(5, Gen.DetParams(images = 200, crowdShare = 0.05)).det
      d.boxes.groupBy(_.imageId).values.foreach { bs =>
        for (a <- bs; b <- bs if a.id < b.id)
          check(a.x + a.w <= b.x || b.x + b.w <= a.x || a.y + a.h <= b.y || b.y + b.h <= a.y,
            s"boxes ${a.id} and ${b.id} overlap")
      }
    }

    test("percentile rule: a tail percentile needs 10 samples beyond it") {
      val r = new Random(1)
      check(Stats.tailPercentile(Seq.fill(50)(r.nextDouble()), 0.9).isEmpty, "p90 of 50 samples reported")
      check(Stats.tailPercentile(Seq.fill(99)(r.nextDouble()), 0.9).isEmpty, "p90 of 99 samples reported")
      check(Stats.tailPercentile((1 to 100).map(_.toDouble), 0.9).contains(90.0), "p90 of 1..100 is not 90")
      check(Stats.tailPercentile(Seq.fill(200)(1.0), 0.9).isEmpty, "p90 of ties has nothing beyond it")
      check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count")
    }

    test("driver time: union of overlapping job intervals, clipped to the window") {
      check(Stats.unionLength(Seq((10.0, 50.0), (40.0, 80.0), (90.0, 150.0))) == 130, "union length")
      check(Stats.uncovered(0, 100, Seq((10.0, 50.0), (40.0, 80.0), (90.0, 150.0))) == 20, "uncovered")
      // concurrent jobs: summing them would exceed the window; the union does not
      check(Stats.uncovered(0, 100, Seq.fill(5)((0.0, 90.0))) == 10, "identical concurrent jobs")
      check(Stats.uncovered(0, 100, Seq((-50.0, 500.0))) == 0, "a job covering the whole window")
    }

    test("driver time: never negative and never above the window, for random jobs") {
      val r = new Random(2)
      (1 to 2000).foreach { _ =>
        val (s, e) = (r.nextDouble() * 100, 100 + r.nextDouble() * 100)
        val jobs = Seq.fill(r.nextInt(12)) {
          val a = r.nextDouble() * 300 - 50
          (a, a + r.nextDouble() * 120)
        }
        val u = Stats.uncovered(s, e, jobs)
        check(u >= 0 && u <= e - s + 1e-9, s"uncovered $u outside [0, ${e - s}] for $jobs")
      }
    }

    test("cap arithmetic: the oracle keeps clipped boxes and drops emptied ones") {
      val im = Img(0, 640, 480, "a.jpg", null, Nil, null)
      check(Interactive.validAfterCap(Box(0, 0, 1, 630, 10, 20, 20), im), "right overflow is clipped, kept")
      check(!Interactive.validAfterCap(Box(0, 0, 1, 645, 10, 20, 20), im), "outside box is emptied")
      check(Interactive.validAfterCap(Box(0, 0, 1, -6, 10, 20, 20), im), "negative x is clipped, kept")
      check(Interactive.malformed(Box(0, 0, 1, -6, 10, 20, 20), im), "negative x is malformed")
    }
    println(s"$passed tests passed")
  }
}
