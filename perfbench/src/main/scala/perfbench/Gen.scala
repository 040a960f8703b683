package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One image row of a generated detection dataset. `split` and `sequence`
  * may be null; `tags` is the list-valued attribute `booleanize` pivots. */
final case class Img(id: Long, width: Int, height: Int, path: String,
    split: String, tags: Seq[String], sequence: java.lang.Long)

/** One box: an annotation, or a prediction when `confidence` is defined. */
final case class Box(id: Long, imageId: Long, category: Int,
    x: Double, y: Double, w: Double, h: Double, confidence: Double = Double.NaN)

final case class Det(images: IndexedSeq[Img], boxes: IndexedSeq[Box], labelMap: Map[Int, String]) {
  lazy val imageById: Map[Long, Img] = images.map(i => i.id -> i).toMap
}

/** Seeded input generators. Every input is a pure function of the seed and
  * the named parameters: the same seed gives byte-identical inputs.
  *
  * Detection boxes sit on a grid of 32-pixel cells, one box per cell with a
  * margin, so no two boxes of an image overlap. That is what makes the
  * planted matching outcome exact: a jittered prediction overlaps its own
  * groundtruth box and nothing else, and a false box sits in an empty cell. */
object Gen {
  val Cell = 32
  private val NormalSizes = IndexedSeq((640, 480), (800, 600), (1024, 768), (1280, 720))
  private val CrowdSize = (1280, 720)
  val TagVocabulary = IndexedSeq("day", "night", "rain", "fog", "indoor", "urban")

  def labelMap(categories: Int, firstId: Int): Map[Int, String] =
    (0 until categories).map(i => (firstId + i) -> f"cat${i + 1}%02d").toMap

  /** Detection dataset parameters.
    * @param crowdShare  share of images that are crowd images (exactly
    *                    that many, at seeded positions)
    * @param crowdBoxes  (min, max) boxes on a crowd image, spread evenly
    *                    over the crowd images: the heavy tail
    * @param meanBoxes   mean boxes on an ordinary image (geometric, zero allowed)
    * @param invalidShare share of boxes planted out of the image bounds
    * @param splitShares planted pre-assigned splits (the rest stay null) */
  final case class DetParams(images: Int, categories: Int = 20, firstCategoryId: Int = 1,
      meanBoxes: Double = 3.0, crowdShare: Double = 0.002, crowdBoxes: (Int, Int) = (200, 600),
      invalidShare: Double = 0.0, splitShares: Seq[(String, Double)] = Nil,
      sequenceLength: Int = 20, firstImageId: Long = 0, firstBoxId: Long = 0,
      firstSequence: Long = 0, pathPrefix: String = "img")

  private def geometric(r: Random, mean: Double): Int = {
    // P(k) = p (1-p)^k, k >= 0, mean (1-p)/p
    val p = 1.0 / (1.0 + mean)
    var k = 0
    while (r.nextDouble() >= p) k += 1
    k
  }

  private def weightedCategory(r: Random, categories: Int): Int = {
    // Zipf-like: category i has weight 1/(i+1)
    val total = (1 to categories).map(1.0 / _).sum
    var u = r.nextDouble() * total
    var i = 0
    while (i < categories - 1 && u >= 1.0 / (i + 1)) { u -= 1.0 / (i + 1); i += 1 }
    i
  }

  /** Distinct cell indices, partial Fisher-Yates. */
  private def pickCells(r: Random, cells: Int, n: Int): Array[Int] = {
    val a = Array.tabulate(cells)(identity)
    var i = 0
    while (i < n) {
      val j = i + r.nextInt(cells - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    a.take(n)
  }

  def cellBox(cell: Int, width: Int, r: Random): (Double, Double, Double, Double) = {
    val cols = width / Cell
    val cx = cell % cols
    val cy = cell / cols
    ((cx * Cell + 4 + r.nextInt(3)).toDouble, (cy * Cell + 4 + r.nextInt(3)).toDouble,
      (20 + r.nextInt(5)).toDouble, (20 + r.nextInt(5)).toDouble)
  }

  /** A box planted out of bounds: off the right edge (capping keeps it),
    * entirely outside (capping empties it) or at a negative x (capping
    * clips it). */
  private def invalidBox(r: Random, w: Int, h: Int): (Double, Double, Double, Double) =
    r.nextInt(3) match {
      case 0 => ((w - 10).toDouble, (r.nextInt(h - 40) + 4).toDouble, 20.0, 20.0)
      case 1 => ((w + 5).toDouble, (r.nextInt(h - 40) + 4).toDouble, 20.0, 20.0)
      case _ => (-6.0, (r.nextInt(h - 40) + 4).toDouble, 20.0, 20.0)
    }

  /** Used cells per image id, for generators that add boxes in free cells. */
  final case class Layout(det: Det, usedCells: Map[Long, Set[Int]])

  def detection(seed: Long, p: DetParams): Layout = {
    val r = new Random(seed)
    val images = ArrayBuffer[Img]()
    val boxes = ArrayBuffer[Box]()
    val used = Map.newBuilder[Long, Set[Int]]
    var boxId = p.firstBoxId
    val splitCum = p.splitShares.scanLeft(("", 0.0)) { case ((_, a), (n, s)) => (n, a + s) }.tail
    // a fixed number of crowd images with a fixed spread of box counts, so
    // the input size does not move with the seed
    val nCrowd = math.round(p.images * p.crowdShare).toInt
    val crowdBoxes = r.shuffle((0 until p.images).toVector).take(nCrowd).zipWithIndex.map {
      case (img, k) => img -> (p.crowdBoxes._1 + (p.crowdBoxes._2 - p.crowdBoxes._1) * k / math.max(1, nCrowd - 1))
    }.toMap
    for (i <- 0 until p.images) {
      val id = p.firstImageId + i
      val crowd = crowdBoxes.contains(i)
      val (w, h) = if (crowd) CrowdSize else NormalSizes(r.nextInt(NormalSizes.size))
      val u = r.nextDouble()
      val split = splitCum.find(u < _._2).map(_._1).orNull
      val tags = {
        val a = TagVocabulary(r.nextInt(TagVocabulary.size))
        val b = TagVocabulary(r.nextInt(TagVocabulary.size))
        if (r.nextBoolean() || a == b) Seq(a) else Seq(a, b).sorted
      }
      val seq = java.lang.Long.valueOf(p.firstSequence + i / p.sequenceLength)
      images += Img(id, w, h, f"${p.pathPrefix}/${i / 1000}%04d/$id%08d.jpg", split, tags, seq)
      val cells = (w / Cell) * (h / Cell)
      val n = math.min(cells - 1, if (crowd) crowdBoxes(i) else geometric(r, p.meanBoxes))
      val picked = pickCells(r, cells, n)
      used += id -> picked.toSet
      picked.foreach { c =>
        val (x, y, bw, bh) =
          if (p.invalidShare > 0 && r.nextDouble() < p.invalidShare) invalidBox(r, w, h)
          else cellBox(c, w, r)
        boxes += Box(boxId, id, p.firstCategoryId + weightedCategory(r, p.categories), x, y, bw, bh)
        boxId += 1
      }
    }
    Layout(Det(images.toIndexedSeq, boxes.toIndexedSeq, labelMap(p.categories, p.firstCategoryId)),
      used.result())
  }

  // ---------------------------------------------------------------- eval

  /** Prediction-set quality. Each groundtruth box is dropped with `drop`,
    * else predicted once (jittered so its IoU with its own box stays above
    * 0.6), label-flipped with `flip`, and duplicated at a lower confidence
    * with `dup`; `falsePerImage` false boxes land in empty cells. */
  final case class ModelParams(name: String, drop: Double, flip: Double, dup: Double,
      falsePerImage: Double)

  /** A prediction set and its planted truth. */
  final case class Predictions(name: String, boxes: IndexedSeq[Box],
      matchedSpecific: Long, matchedAgnostic: Long,
      /** per groundtruth category: groundtruth boxes matched by a same-label prediction */
      diagonal: Map[Int, Long])

  def predictions(seed: Long, layout: Layout, m: ModelParams): Predictions = {
    val r = new Random(seed)
    val det = layout.det
    val out = ArrayBuffer[Box]()
    var id = 0L
    var specific = 0L
    var agnostic = 0L
    val diag = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    val cats = det.labelMap.keys.toIndexedSeq.sorted
    def jitter(b: Box, cat: Int, conf: Double): Box = {
      id += 1
      Box(id, b.imageId, cat, b.x + r.nextInt(5) - 2, b.y + r.nextInt(5) - 2,
        b.w + r.nextInt(5) - 2, b.h + r.nextInt(5) - 2, conf)
    }
    det.boxes.foreach { g =>
      if (r.nextDouble() >= m.drop) {
        val flipped = r.nextDouble() < m.flip
        val cat = if (flipped) cats((cats.indexOf(g.category) + 1 + r.nextInt(cats.size - 1)) % cats.size)
          else g.category
        val conf = if (flipped) 0.1 + 0.8 * r.nextDouble() else 0.3 + 0.7 * r.nextDouble()
        out += jitter(g, cat, conf)
        if (r.nextDouble() < m.dup) out += jitter(g, cat, conf * (0.5 + 0.45 * r.nextDouble()))
        agnostic += 1
        if (!flipped) { specific += 1; diag(g.category) += 1 }
      }
    }
    det.images.foreach { im =>
      val cells = (im.width / Cell) * (im.height / Cell)
      val free = (0 until cells).filterNot(layout.usedCells(im.id)).toIndexedSeq
      val n = math.min(free.size, geometric(r, m.falsePerImage))
      pickCells(r, free.size, n).foreach { k =>
        val (x, y, w, h) = cellBox(free(k), im.width, r)
        id += 1
        out += Box(id, im.id, cats(r.nextInt(cats.size)), x, y, w, h, 0.6 * r.nextDouble())
      }
    }
    Predictions(m.name, out.toIndexedSeq, specific, agnostic, diag.toMap)
  }

  // ---------------------------------------------------------------- dedup

  final case class Doc(id: Long, text: String)

  /** Corpus parameters.
    * @param exactFamilies  base documents with one exact copy each
    * @param nearFamilies   base documents with one variant whose last word
    *                       differs: shingle Jaccard (L-3)/(L-1) >= 0.96,
    *                       far above the 0.7 threshold, so MinHash banding
    *                       (8 bands of 4) misses such a pair with p < 1e-7
    * @param megaCluster    exact copies of one document, above the
    *                       256-member bucket cap: the planted skew
    * @param refPlanted     reference documents that are near copies of a
    *                       corpus representative
    */
  final case class DedupParams(docs: Int, exactFamilies: Int, nearFamilies: Int,
      megaCluster: Int, refDocs: Int, refPlanted: Int, words: (Int, Int) = (150, 250),
      vocabulary: Int = 20000)

  final case class Corpus(docs: IndexedSeq[Doc], ref: IndexedSeq[Doc],
      exactSurvivors: Long, pairs: Long, clusters: Long, crossPairs: Long, megaSize: Long)

  private def word(i: Int): String = {
    // deterministic pseudo-words over a-z, two to four syllables
    val cons = "bcdfghjklmnprstvz"
    val vow = "aeiou"
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) {
      sb += cons(x % cons.length); x /= cons.length
      sb += vow(x % vow.length); x /= vow.length
    }
    sb.toString
  }

  def corpus(seed: Long, p: DedupParams): Corpus = {
    require(p.docs >= 2 * (p.exactFamilies + p.nearFamilies) + p.megaCluster + p.refPlanted)
    val r = new Random(seed)
    val vocab = Array.tabulate(p.vocabulary)(word)
    def text(): Array[String] =
      Array.fill(p.words._1 + r.nextInt(p.words._2 - p.words._1 + 1))(vocab(r.nextInt(vocab.length)))
    def variant(t: Array[String]): Array[String] = {
      val v = t.clone()
      var w = v.last
      while (w == v.last) w = vocab(r.nextInt(vocab.length))
      v(v.length - 1) = w
      v
    }
    val singles = p.docs - 2 * (p.exactFamilies + p.nearFamilies) - p.megaCluster
    // (text, family) rows; family members are listed base first
    val groups = ArrayBuffer[Seq[Array[String]]]()
    (0 until p.exactFamilies).foreach { _ => val t = text(); groups += Seq(t, t) }
    (0 until p.nearFamilies).foreach { _ => val t = text(); groups += Seq(t, variant(t)) }
    val mega = text()
    groups += Seq.fill(p.megaCluster)(mega)
    (0 until singles).foreach { _ => groups += Seq(text()) }
    // ids are a seeded permutation; within a family the base takes the
    // smallest id, so it is the cluster representative
    val ids = r.shuffle((0L until p.docs.toLong).toVector)
    var next = 0
    val docs = ArrayBuffer[Doc]()
    val reps = ArrayBuffer[(Long, Array[String])]()
    groups.zipWithIndex.foreach { case (members, gi) =>
      val mine = ids.slice(next, next + members.size).sorted
      next += members.size
      members.zip(mine).foreach { case (t, id) => docs += Doc(id, t.mkString(" ")) }
      if (gi != p.exactFamilies + p.nearFamilies) reps += mine.head -> members.head
    }
    val refBases = r.shuffle(reps.toVector).take(p.refPlanted)
    val ref = (refBases.map(b => variant(b._2)) ++ Seq.fill(p.refDocs - p.refPlanted)(text()))
      .zipWithIndex.map { case (t, i) => Doc(i.toLong, t.mkString(" ")) }
    val clusters = p.docs.toLong - p.exactFamilies - p.nearFamilies - (p.megaCluster - 1)
    Corpus(r.shuffle(docs.toVector), ref.toIndexedSeq,
      exactSurvivors = p.docs.toLong - p.exactFamilies - (p.megaCluster - 1),
      pairs = p.exactFamilies.toLong + p.nearFamilies + (p.megaCluster - 1),
      clusters = clusters, crossPairs = p.refPlanted.toLong, megaSize = p.megaCluster.toLong)
  }
}
