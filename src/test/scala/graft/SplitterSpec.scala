package graft

import graft.split.{Splitter, Costs}
import graft.operators.Grouper
import graft.model.GraftDataset
import org.apache.spark.sql.functions._

class CostsSpec extends SparkFunSuite {
  test("KL divergence: zero for identical, inf for missing support") {
    val p = Array(0.5, 0.5)
    assert(Costs.klDivergence(p, p) == 0.0)
    assert(Costs.klDivergence(Array(0.5, 0.5), Array(1.0, 0.0)).isPosInfinity)
    assert(math.abs(Costs.klDivergence(Array(1.0, 0.0), Array(0.5, 0.5)) - math.log(2)) < 1e-12)
  }

  test("1-D EMD is the prefix-sum formula") {
    assert(Costs.emd1d(Array(1.0, 0.0), Array(0.0, 1.0)) == 1.0)
    assert(Costs.emd1d(Array(1.0, 0, 0), Array(0, 0, 1.0)) == 2.0)
    assert(Costs.emd1d(Array(0.5, 0.5), Array(0.5, 0.5)) == 0.0)
  }

  test("share distance is 1 - IoU") {
    assert(Costs.shareDistance(Array(0.8, 0.2), Array(0.8, 0.2)) == 0.0)
    // reference formula: 1 - sum(min)/sum(max) = 1 - 0.5/1.5 = 2/3
    assert(math.abs(Costs.shareDistance(Array(1.0, 0.0), Array(0.5, 0.5)) - 2.0 / 3) < 1e-12)
  }
}

class SplitterSpec extends SparkFunSuite {
  import spark.implicits._

  /** 300 images, group column g (30 videos), category spread over annotations. */
  private def mediumDataset(): GraftDataset = {
    val images = spark.range(300).select(
      col("id"),
      lit(100).as("width"), lit(100).as("height"),
      concat(lit("img"), col("id"), lit(".jpg")).as("relative_path"),
      (col("id") % 30).cast("string").as("video"),
      lit(null).cast("string").as("split"))
    val ann = spark.range(900).select(
      col("id"),
      (col("id") % 300).as("image_id"),
      (col("id") % 3).cast("int").as("category_id"),
      lit(1.0).as("box_x_min"), lit(1.0).as("box_y_min"),
      lit(5.0).as("box_width"), lit(5.0).as("box_height"))
    GraftDataset.create(images, ann, Map(0 -> "a", 1 -> "b", 2 -> "c"))
  }

  test("simpleSplit hits target shares and is deterministic + partition-invariant") {
    val ds = mediumDataset()
    val out = Splitter.simpleSplit(ds, seed = 42, Seq("train", "valid"), Seq(0.8, 0.2))
    val counts = out.images.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 300)
    assert(math.abs(counts("train") - 240.0) < 30) // binomial tolerance
    val again = Splitter.simpleSplit(ds, seed = 42, Seq("train", "valid"), Seq(0.8, 0.2))
    assert(collectSorted(again.images) == collectSorted(out.images))
    val repartitioned = ds.copy(images = ds.images.repartition(7))
    val third = Splitter.simpleSplit(repartitioned, seed = 42, Seq("train", "valid"), Seq(0.8, 0.2))
    assert(collectSorted(third.images) == collectSorted(out.images))
  }

  test("simpleSplit honors pre-assigned rows and renormalizes residual shares") {
    val ds = mediumDataset()
    val pre = ds.copy(images = ds.images.withColumn("split",
      when(col("id") < 150, lit("train")).otherwise(lit(null))))
    val out = Splitter.simpleSplit(pre, seed = 1, Seq("train", "valid"), Seq(0.5, 0.5))
    // the 150 pre-assigned stay train; valid needs ~150 of the remaining 150
    val kept = out.images.filter(col("id") < 150 && col("split") === "train").count()
    assert(kept == 150)
    val validCount = out.images.filter(col("split") === "valid").count()
    assert(math.abs(validCount - 150.0) < 1) // nearly all remaining go valid
  }

  test("makeAtomicChunks links rows transitively across multiple key columns") {
    val df = Seq(
      (0L, "a", "x"), (1L, "a", "y"), (2L, "b", "y"), (3L, "c", "z"), (4L, "d", "z")
    ).toDF("id", "g1", "g2")
    val out = Splitter.makeAtomicChunks(df, Seq("g1", "g2")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("__atom")).toMap
    assert(out(0L) == out(1L) && out(1L) == out(2L)) // linked via a, then y
    assert(out(3L) == out(4L)) // linked via z
    assert(out(0L) != out(3L))
  }

  test("makeAtomicChunks: 1000-link chain collapses to one atom (contraction)") {
    // a path-graph component of diameter ~1000: rows 2j,2j+1 share ka=j;
    // rows 2j+1,2j+2 share kb=j+1. Plain min-label propagation needs
    // ~D/2 full passes (any fixed iteration cap silently under-merges);
    // the label-graph contraction must collapse it in a handful of
    // rounds without plan-depth blowup.
    val n = 1000
    val df = (0 until n).map(i => (i.toLong, (i / 2).toLong, ((i + 1) / 2).toLong))
      .toDF("id", "ka", "kb")
    val out = Splitter.makeAtomicChunks(df, Seq("ka", "kb"))
    assert(out.select("__atom").distinct().count() == 1)
    assert(out.agg(min("__atom")).collect()(0).getLong(0) == 0L)
  }

  test("split with keepSeparate never splits a video across splits") {
    val ds = mediumDataset()
    val out = Splitter.split(ds, seed = 7, Seq("train", "valid"), Seq(0.8, 0.2),
      keepSeparate = Seq("video"))
    val perVideo = out.images.groupBy("video")
      .agg(countDistinct("split").as("n")).collect()
    assert(perVideo.forall(_.getLong(1) == 1L))
    val counts = out.images.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 240.0) <= 30)
  }

  test("split with keepBalanced keeps per-category shares close to global") {
    val ds = mediumDataset()
    val out = Splitter.split(ds, seed = 7, Seq("train", "valid"), Seq(0.5, 0.5),
      keepBalanced = Seq(Grouper.CategoricalGroup("category_id")))
    val byCat = out.annotations.groupBy("split", "category_id").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (c <- 0 to 2) {
      val t = byCat.getOrElse(("train", c), 0L).toDouble
      val v = byCat.getOrElse(("valid", c), 0L).toDouble
      assert(math.abs(t / (t + v) - 0.5) < 0.1, s"category $c imbalance")
    }
  }

  test("split fails loudly past the atom cap instead of collecting unbounded") {
    val ds = mediumDataset()
    // keepSeparate=Nil => one atom per image (300 atoms): over a 100-atom
    // cap the driver-side greedy loop must refuse with actionable advice
    val e = intercept[IllegalArgumentException] {
      Splitter.split(ds, seed = 7, Seq("train", "valid"), Seq(0.5, 0.5),
        keepBalanced = Seq(graft.operators.Grouper.CategoricalGroup("category_id")),
        maxAtoms = 100)
    }
    assert(e.getMessage.contains("100 atoms"))
    assert(e.getMessage.contains("keepSeparate"))
    // under the cap the same split succeeds
    val ok = Splitter.split(ds, seed = 7, Seq("train", "valid"), Seq(0.5, 0.5),
      keepBalanced = Seq(graft.operators.Grouper.CategoricalGroup("category_id")),
      maxAtoms = 300)
    assert(ok.images.select("split").distinct().count() == 2)
  }

  test("split honors pre-assigned atoms and demotes conflicts") {
    val ds = mediumDataset()
    val pre = ds.copy(images = ds.images.withColumn("split",
      when(col("id") === 0, lit("train"))
        .when(col("id") === 30, lit("valid")) // same video group 0 → conflict
        .otherwise(lit(null))))
    val out = Splitter.split(pre, seed = 3, Seq("train", "valid"), Seq(0.5, 0.5),
      keepSeparate = Seq("video"))
    // conflicting atom still ends up wholly in ONE split (reassigned greedily)
    val video0 = out.images.filter(col("video") === "0")
      .select("split").distinct().collect()
    assert(video0.length == 1)
  }

  test("single-key atomize fast path equals the iterative result") {
    import spark.implicits._
    val df = Seq((0L, "a"), (1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
      .toDF("id", "g")
    val fast = graft.split.Splitter.makeAtomicChunks(df, Seq("g"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("__atom")).toMap
    assert(fast(0L) == fast(1L))
    assert(fast(2L) == 2L)
    assert(fast(3L) == 3L) // null key: own atom
  }

  test("splitter balances when a split starts with a missing bin (inf KL handling)") {
    // categories 0/1; pre-assign one atom of pure category 0 to 'valid' so
    // valid's hist lacks category 1 → KL inf; greedy must still fill it
    val images = spark.range(100).select(col("id"),
      lit(10).as("width"), lit(10).as("height"),
      concat(lit("i"), col("id")).as("relative_path"),
      when(col("id") === 0, "valid").otherwise(lit(null).cast("string")).as("split"))
    val ann = spark.range(400).select(col("id"),
      (col("id") % 100).as("image_id"),
      (col("id") % 2).cast("int").as("category_id"),
      lit(1.0).as("box_x_min"), lit(1.0).as("box_y_min"),
      lit(2.0).as("box_width"), lit(2.0).as("box_height"))
    val ds = graft.model.GraftDataset.create(images, ann, Map(0 -> "a", 1 -> "b"))
    val out = graft.split.Splitter.split(ds, seed = 5, Seq("train", "valid"), Seq(0.5, 0.5),
      keepBalanced = Seq(Grouper.CategoricalGroup("category_id")))
    val counts = out.annotations.groupBy("split", "category_id").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // valid must end up containing BOTH categories
    assert(counts.getOrElse(("valid", 1), 0L) > 0L, s"valid never got category 1: $counts")
  }
}
