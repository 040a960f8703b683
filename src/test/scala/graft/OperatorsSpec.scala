package graft

import graft.operators._
import org.apache.spark.sql.functions._

class LocatorsSpec extends SparkFunSuite {

  test("filterImages cascades annotations via semi join") {
    val ds = tinyDataset()
    val out = Locators.filterImages(ds, col("id") <= 1)
    assert(out.numImages == 2)
    assert(out.annotations.select("image_id").distinct().collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
  }

  test("filterAnnotations keeps always-empty images when removing emptied ones") {
    val ds = tinyDataset() // image 3 has no annotations
    val out = Locators.filterAnnotations(ds, col("category_id") === 1, removeEmptiedImages = true)
    // images 0,1 keep car annotations; 2 is emptied (dropped); 3 was already empty (kept)
    assert(out.images.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 3L))
    assert(out.numAnnotations == 2)
  }

  test("iloc slices positionally with step") {
    val ds = tinyDataset()
    val out = Locators.ilocImages(ds, 0, 4, 2)
    assert(out.images.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L))
  }

  test("getSplit is null-safe") {
    val ds = tinyDataset()
    val out = Locators.getSplit(ds, None)
    assert(out.images.select("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(Locators.getSplit(ds, Some("valid")).numImages == 1)
  }

  test("removeInvalidAnnotations drops out-of-bounds and negative boxes") {
    val ds = tinyDataset()
    val out = Locators.removeInvalidAnnotations(ds)
    // ann 2 overflows image 1 width; ann 5 has negative x
    assert(out.annotations.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 3L, 4L))
    val report = Locators.malformedBoxReport(ds)
    assert(report.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 5L))
  }
}

class MergeDiffSpec extends SparkFunSuite {
  import spark.implicits._

  test("union shifts colliding ids past the left max") {
    val ds = tinyDataset()
    val merged = Merge.union(ds, ds) // full id collision
    assert(merged.numImages == 8)
    assert(merged.numAnnotations == 12)
    assert(merged.images.select("id").distinct().count() == 8)
    assert(merged.annotations.select("id").distinct().count() == 12)
    // FK still valid after shift
    merged.validated()
  }

  test("horizontal merge adds only new columns on common ids") {
    val ds = tinyDataset()
    val withExtra = ds.copy(
      images = ds.images.withColumn("camera", concat(lit("cam"), col("id"))),
      annotations = ds.annotations.limit(0))
    val merged = Merge.merge(ds, withExtra)
    assert(merged.numImages == 4)
    assert(merged.images.columns.contains("camera"))
    assert(merged.numAnnotations == 6)
  }

  test("frameDiff classifies rows cell-wise with null-safe equality") {
    val ds = tinyDataset()
    val mutated = ds.annotations
      .filter(col("id") =!= 5)
      .withColumn("box_width", when(col("id") === 0, lit(999.0)).otherwise(col("box_width")))
    val d = Diff.frameDiff(ds.annotations, mutated)
    val byStatus = d.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus == Map("left_only" -> 1L, "changed" -> 1L, "equal" -> 4L))
    val changedCols = d.filter(col("status") === "changed")
      .select(array_join(col("changed_columns"), ",")).collect()(0).getString(0)
    assert(changedCols == "box_width")
  }

  test("frameDiff excludeColumns ignores drift in the named columns") {
    // test_difftools.py::test_diff_exclude_columns shape: a column whose
    // values differ between the two sides must not count as a change once
    // excluded; with it included the same rows report changed
    val ds = tinyDataset()
    val drifted = ds.annotations.withColumn("box_width", col("box_width") + 1.0)
    val withDrift = Diff.frameDiff(ds.annotations, drifted)
      .filter(col("status") =!= "equal").count()
    assert(withDrift == ds.annotations.count())
    val excluded = Diff.frameDiff(ds.annotations, drifted,
      excludeColumns = Seq("box_width"))
      .filter(col("status") =!= "equal").count()
    assert(excluded == 0)
    // datasetDiff pass-through: excluded drift yields three empty parts
    val d = Diff.datasetDiff(ds, ds.copy(annotations = drifted),
      excludeAnnotationsColumns = Seq("box_width"))
    assert(d.leftOnly.numImages == 0 && d.rightOnly.numImages == 0 &&
      d.changed.numImages == 0)
  }

  test("datasetsEqual detects equality and inequality") {
    val ds = tinyDataset()
    assert(Diff.datasetsEqual(ds, tinyDataset()))
    val other = ds.copy(annotations = ds.annotations.filter(col("id") =!= 0))
    assert(!Diff.datasetsEqual(ds, other))
  }

  test("datasetDiff produces three id-disjoint datasets") {
    val a = tinyDataset()
    val b0 = tinyDataset()
    // b: drop image 0 (left_only), change an annotation of image 1 (changed)
    val b = Locators.filterImages(b0, col("id") =!= 0).copy(
      annotations = Locators.filterImages(b0, col("id") =!= 0).annotations
        .withColumn("box_height", when(col("id") === 3, 77.0).otherwise(col("box_height"))))
    val d = Diff.datasetDiff(a, b)
    assert(d.leftOnly.images.select("id").collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(d.rightOnly.numImages == 0)
    assert(d.changed.images.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("merge rejects overlapping images that disagree on shared columns") {
    val ds = tinyDataset()
    val conflicting = ds.copy(
      images = ds.images.withColumn("width", col("width") + 1),
      annotations = ds.annotations.limit(0))
    intercept[IllegalArgumentException](Merge.merge(ds, conflicting))
    // agreeing intersection still merges
    val extra = ds.copy(
      images = ds.images.withColumn("camera", lit("c")),
      annotations = ds.annotations.limit(0))
    assert(Merge.merge(ds, extra).images.columns.contains("camera"))
  }

  test("resetIndexFromMapping handles empty and Int-typed mappings") {
    val ds = tinyDataset()
    val emptyMap = Seq.empty[(Long, Long)].toDF("old_id", "new_id")
    val out = Ids.resetIndexFromMapping(ds, emptyMap, removeUnmapped = false)
    assert(out.numImages == 4) // all rows unmapped → fresh ids from 0
    assert(out.images.select("id").distinct().count() == 4)
    val intMap = Seq((0, 100), (1, 101)).toDF("old_id", "new_id")
    val out2 = Ids.resetIndexFromMapping(ds, intMap, removeUnmapped = true)
    assert(out2.images.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(100L, 101L))
  }

  test("matchIndex remaps via the anchor column and rejects dup anchors") {
    val ds = tinyDataset()
    val other = ds.copy(images = ds.images.withColumn("id", col("id") + 100))
    val out = Ids.matchIndex(ds, other, on = "relative_path")
    assert(out.images.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      ds.images.select("id").collect().map(_.getLong(0) + 100).sorted.toSeq)
    // annotations follow their images
    assert(out.annotations.select("image_id").distinct().collect()
      .map(_.getLong(0)).forall(_ >= 100))
    val dup = ds.copy(images = ds.images.withColumn("relative_path", lit("same.jpg")))
    intercept[IllegalArgumentException](Ids.matchIndex(dup, other))
    intercept[IllegalArgumentException](Ids.matchIndex(ds, dup.copy(
      images = dup.images.withColumn("id", col("id") + 100))))
  }

  /** Distinct `spark.sql.execution.id`s of the jobs `f` runs, read from the
    * job-start events of its job group. The listener bus is asynchronous,
    * so a sentinel job in another group runs after `f`, and the wait (under
    * a deadline) ends when its start arrives: the bus is FIFO, so every
    * event of `f` has been delivered by then. */
  private def executionsOf(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"merge-probe-${System.nanoTime()}"
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        p.flatMap(q => Option(q.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) =>
            execs.add(p.flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
              .getOrElse("none"))
          case Some(g) if g == group + "-drain" => drained.set(true)
          case _ =>
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "merge probe count")
      f
      sc.setJobGroup(group + "-drain", "listener bus drain")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!drained.get() && System.nanoTime() < deadline) Thread.sleep(20)
      assert(drained.get(), "listener bus did not drain within 30 s")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    execs.toArray.map(_.toString).distinct.toSeq
  }

  test("union and merge each build with one action") {
    val ds = tinyDataset()
    // union(ds, ds): image and annotation ids both collide
    val u = executionsOf(Merge.union(ds, ds))
    assert(u.size == 1 && u.head != "none", s"union ran executions $u")
    // merge(ds, ds): the images agree, the annotation ids collide
    val m = executionsOf(Merge.merge(ds, ds))
    assert(m.size == 1 && m.head != "none", s"merge ran executions $m")
  }

  test("union shifts exactly the colliding table by maxL - minR + 1") {
    val a = tinyDataset() // images 0..3, annotations 0..5
    def ids(df: org.apache.spark.sql.DataFrame, c: String): Seq[Long] =
      df.select(c).collect().map(_.getLong(0)).sorted.toSeq
    // only annotation ids collide: b's annotations 3..8 move by 5 - 3 + 1
    val annOnly = a.copy(
      images = a.images.withColumn("id", col("id") + 10),
      annotations = a.annotations.withColumn("id", col("id") + 3)
        .withColumn("image_id", col("image_id") + 10))
    val u1 = Merge.union(a, annOnly)
    assert(ids(u1.images, "id") == Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L))
    assert(ids(u1.annotations, "id") == (0L to 5L) ++ (6L to 11L))
    assert(ids(u1.annotations.filter(col("image_id") >= 10), "image_id") ==
      ids(annOnly.annotations, "image_id"))
    u1.validated() // FK holds
    assert(ids(Merge.merge(a, annOnly).annotations, "id") == (0L to 5L) ++ (6L to 11L))
    // only image ids collide: b's images 2..5 move by 3 - 2 + 1, their
    // annotations follow, and the annotation ids stay as they were
    val imgOnly = a.copy(
      images = a.images.withColumn("id", col("id") + 2),
      annotations = a.annotations.withColumn("id", col("id") + 100)
        .withColumn("image_id", col("image_id") + 2))
    val u2 = Merge.union(a, imgOnly)
    assert(ids(u2.images, "id") == (0L to 7L))
    assert(ids(u2.annotations, "id") == (0L to 5L) ++ (100L to 105L))
    assert(ids(u2.annotations.filter(col("id") >= 100), "image_id") ==
      ids(a.annotations, "image_id").map(_ + 4))
    u2.validated()
  }

  test("datasetDiff leaves no cached relation behind") {
    Sessions.resetStorage(spark)
    val a = tinyDataset()
    val b = a.copy(images = a.images.withColumn("width", col("width") + 1))
    assert(Diff.datasetDiff(a, b).changed.images.count() == 4)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  /** frameDiff's `status`, one struct comparison, checked against its own
    * per-column `changed_columns`, and intersectionMismatches (the
    * inner-join form) against frameDiff's `changed` ids. Returns each id's
    * status. */
  private def statusParity(l: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame, exclude: Seq[String] = Nil): Map[Long, String] = {
    val rows = Diff.frameDiff(l, r, excludeColumns = exclude).collect()
    rows.foreach { row =>
      val status = row.getString(1)
      val cols = row.getSeq[String](2)
      if (status == "changed" || status == "equal")
        assert((status == "changed") == cols.nonEmpty, s"id ${row.get(0)}: $status vs $cols")
    }
    val statuses = rows.map(row => row.getLong(0) -> row.getString(1)).toMap
    if (exclude.isEmpty)
      assert(Diff.intersectionMismatches(l, r).collect().map(_.getLong(0)).toSet ==
        statuses.collect { case (i, "changed") => i }.toSet)
    statuses
  }

  test("the row comparison matches per-column <=> on nulls, NaN and signed zeros") {
    val cases = Seq[(Option[Double], Option[Double], String)](
      (None, Some(1.0), "changed"), (Some(1.0), None, "changed"), (None, None, "equal"),
      (Some(Double.NaN), Some(Double.NaN), "equal"), (Some(-0.0), Some(0.0), "equal"),
      (Some(Double.NaN), Some(1.0), "changed"), (Some(1.0), Some(2.0), "changed"))
    val ids = cases.indices.map(_.toLong)
    val l = ids.zip(cases.map(_._1)).toDF("id", "x")
    val r = ids.zip(cases.map(_._2)).toDF("id", "x")
    assert(statusParity(l, r) == ids.zip(cases.map(_._3)).toMap)
    val lf = ids.zip(cases.map(_._1.map(_.toFloat))).toDF("id", "x")
    val rf = ids.zip(cases.map(_._2.map(_.toFloat))).toDF("id", "x")
    assert(statusParity(lf, rf) == ids.zip(cases.map(_._3)).toMap)
    // several columns: a null that moves to another column is a change
    val l2 = Seq((0L, None: Option[Int], Some("a")), (1L, None, Some("a"))).toDF("id", "n", "s")
    val r2 = Seq((0L, None: Option[Int], Some("a")), (1L, Some(1), None)).toDF("id", "n", "s")
    assert(statusParity(l2, r2) == Map(0L -> "equal", 1L -> "changed"))
  }

  test("the row comparison matches per-column <=> on empty, null and null-holding arrays") {
    val cases = Seq[(Option[Seq[Option[Int]]], Option[Seq[Option[Int]]], String)](
      (Some(Nil), None, "changed"), (None, Some(Nil), "changed"), (None, None, "equal"),
      (Some(Nil), Some(Nil), "equal"),
      (Some(Seq(Some(1), None)), Some(Seq(Some(1), None)), "equal"),
      (Some(Seq(Some(1), None)), Some(Seq(Some(1), Some(2))), "changed"),
      (Some(Seq(None)), Some(Nil), "changed"))
    val ids = cases.indices.map(_.toLong)
    val l = ids.zip(cases.map(_._1)).toDF("id", "xs")
    val r = ids.zip(cases.map(_._2)).toDF("id", "xs")
    assert(statusParity(l, r) == ids.zip(cases.map(_._3)).toMap)
  }

  test("the row comparison coerces shared columns whose types differ as <=> does") {
    val l = Seq((0L, 1), (1L, 1), (2L, 2)).toDF("id", "x")
    val r = Seq((0L, 1L), (1L, 2L), (2L, 2L)).toDF("id", "x")
    assert(statusParity(l, r) == Map(0L -> "equal", 1L -> "changed", 2L -> "equal"))
    val rd = Seq((0L, 1.0), (1L, 1.5), (2L, 2.0)).toDF("id", "x")
    assert(statusParity(l, rd) == Map(0L -> "equal", 1L -> "changed", 2L -> "equal"))
  }

  test("the row comparison with no shared column and with excluded columns") {
    val l = Seq((0L, 1, "a"), (1L, 2, "b")).toDF("id", "x", "y")
    val r = Seq((1L, 9.0), (2L, 9.0)).toDF("id", "z")
    // no shared column: common ids are equal, one-sided rows keep their side
    assert(statusParity(l, r) == Map(0L -> "left_only", 1L -> "equal", 2L -> "right_only"))
    val drifted = Seq((0L, 1, "A"), (1L, 3, "b")).toDF("id", "x", "y")
    assert(statusParity(l, drifted) == Map(0L -> "changed", 1L -> "changed"))
    assert(statusParity(l, drifted, Seq("y")) == Map(0L -> "equal", 1L -> "changed"))
    assert(statusParity(l, drifted, Seq("x", "y")) == Map(0L -> "equal", 1L -> "equal"))
    assert(Diff.frameDiff(l, drifted, excludeColumns = Seq("y"))
      .filter(col("id") === 1).select(array_join(col("changed_columns"), ","))
      .head().getString(0) == "x")
  }

  test("datasetDiff rolls annotation changes up to equal images only") {
    val a = tinyDataset() // images 0..3; annotations 0,1 → 0; 2,3 → 1; 4,5 → 2
    def ids(ds: graft.model.GraftDataset): Seq[Long] =
      ds.images.select("id").collect().map(_.getLong(0)).sorted.toSeq
    def annIds(ds: graft.model.GraftDataset): Seq[Long] =
      ds.annotations.select("id").collect().map(_.getLong(0)).sorted.toSeq
    // annotation 3 moves from image 1 to image 0: both equal images change
    val moved = a.copy(annotations = a.annotations
      .withColumn("image_id", when(col("id") === 3, 0L).otherwise(col("image_id"))))
    val dm = Diff.datasetDiff(a, moved)
    assert(ids(dm.changed) == Seq(0L, 1L) && ids(dm.leftOnly).isEmpty && ids(dm.rightOnly).isEmpty)
    // an annotation-only change on an equal image
    val widened = a.copy(annotations = a.annotations
      .withColumn("box_width", when(col("id") === 4, 9.0).otherwise(col("box_width"))))
    assert(ids(Diff.datasetDiff(a, widened).changed) == Seq(2L))
    // image 0 (with annotations) only on the left, image 9 only on the right;
    // annotation 5 moves from equal image 2 to right-only image 9
    val sided = a.copy(
      images = a.images.filter(col("id") =!= 0)
        .unionByName(a.images.filter(col("id") === 3).withColumn("id", lit(9L))),
      annotations = a.annotations.filter(col("image_id") =!= 0)
        .withColumn("image_id", when(col("id") === 5, 9L).otherwise(col("image_id")))
        .unionByName(a.annotations.filter(col("id") === 4)
          .withColumn("id", lit(9L)).withColumn("image_id", lit(9L))))
    val ds = Diff.datasetDiff(a, sided)
    assert(ids(ds.leftOnly) == Seq(0L) && annIds(ds.leftOnly) == Seq(0L, 1L))
    assert(ids(ds.rightOnly) == Seq(9L) && annIds(ds.rightOnly) == Seq(5L, 9L))
    assert(ids(ds.changed) == Seq(2L))
    // image_id excluded from the comparison: a box change still rolls up to
    // its image, a move alone is no change
    assert(ids(Diff.datasetDiff(a, widened, excludeAnnotationsColumns = Seq("image_id"))
      .changed) == Seq(2L))
    assert(ids(Diff.datasetDiff(a, moved, excludeAnnotationsColumns = Seq("image_id"))
      .changed).isEmpty)
  }

  test("datasetDiff builds without a job and plans two full-outer joins") {
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val a = tinyDataset()
    val b = a.copy(annotations = a.annotations.withColumn("box_x_min", col("box_x_min") + 1))
    var d: Diff.DatasetDiff = null
    assert(executionsOf { d = Diff.datasetDiff(a, b) }.isEmpty)
    val fullOuter = d.changed.images.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == FullOuter => j
    }
    assert(fullOuter.size == 2, d.changed.images.queryExecution.optimizedPlan)
    assert(d.changed.numImages == 3)
  }

  test("datasetsEqual decides with one action after its schema short-circuits") {
    val ds = tinyDataset()
    var eq = false
    assert(executionsOf { eq = Diff.datasetsEqual(ds, tinyDataset()) }.size == 1)
    assert(eq)
    val renamed = ds.copy(labelMap = Map(0 -> "person", 1 -> "truck"))
    assert(executionsOf { eq = Diff.datasetsEqual(ds, renamed) }.isEmpty)
    assert(!eq)
    val moreCols = ds.copy(images = ds.images.withColumn("camera", lit("c")))
    assert(executionsOf { eq = Diff.datasetsEqual(ds, moreCols) }.isEmpty)
    assert(!eq)
    assert(!Diff.datasetsEqual(ds, ds.copy(images = ds.images.filter(col("id") =!= 3))))
  }

  test("union and merge shift past an empty side, disjoint and overlapping ids") {
    val a = tinyDataset() // images 0..3, annotations 0..5
    val empty = a.copy(images = a.images.limit(0), annotations = a.annotations.limit(0))
    def ids(ds: graft.model.GraftDataset): (Seq[Long], Seq[Long]) = (
      ds.images.select("id").collect().map(_.getLong(0)).sorted.toSeq,
      ds.annotations.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    val own = ((0L to 3L), (0L to 5L))
    for ((name, op) <- Seq[(String, (graft.model.GraftDataset, graft.model.GraftDataset) =>
        graft.model.GraftDataset)]("union" -> Merge.union, "merge" -> Merge.merge)) {
      assert(ids(op(empty, a)) == own, name)
      assert(ids(op(a, empty)) == own, name)
      assert(ids(op(empty, empty)) == ((Nil, Nil)), name)
      val disjoint = a.copy(
        images = a.images.withColumn("id", col("id") + 10),
        annotations = a.annotations.withColumn("id", col("id") + 10)
          .withColumn("image_id", col("image_id") + 10))
      assert(ids(op(a, disjoint)) == ((0L to 3L) ++ (10L to 13L), (0L to 5L) ++ (10L to 15L)), name)
      // annotation ids 2..7 collide with 0..5 and move by 5 - 2 + 1
      val overlap = a.copy(annotations = a.annotations.withColumn("id", col("id") + 2))
      val (imgs, anns) = ids(op(a, overlap))
      assert(anns == (0L to 5L) ++ (6L to 11L), name)
      assert(imgs == (if (name == "union") (0L to 7L) else (0L to 3L)), name)
    }
  }

  test("merge's exceptions keep their class and message") {
    val a = tinyDataset()
    val relabelled = a.copy(labelMap = Map(0 -> "dog", 1 -> "car"))
    for (op <- Seq[(graft.model.GraftDataset, graft.model.GraftDataset) =>
        graft.model.GraftDataset](Merge.union, Merge.merge)) {
      val e = intercept[IllegalArgumentException](op(a, relabelled))
      assert(e.getMessage == "requirement failed: label map conflict on ids 0: 0 -> 'person' vs 'dog'")
    }
    val noAnn = a.annotations.limit(0)
    val one = a.copy(images = a.images
      .withColumn("width", when(col("id") === 2, 1).otherwise(col("width"))), annotations = noAnn)
    val e1 = intercept[IllegalArgumentException](Merge.merge(a, one))
    assert(e1.getMessage ==
      "requirement failed: merge: overlapping images disagree on shared columns, ids: 2")
    // the label map fails first when both conflict
    val e2 = intercept[IllegalArgumentException](Merge.merge(a, one.copy(labelMap = relabelled.labelMap)))
    assert(e2.getMessage.contains("label map conflict"))
    // at most three disagreeing ids are named
    val all = a.copy(images = a.images.withColumn("width", col("width") + 1), annotations = noAnn)
    val e3 = intercept[IllegalArgumentException](Merge.merge(a, all))
    val prefix = "requirement failed: merge: overlapping images disagree on shared columns, ids: "
    assert(e3.getMessage.startsWith(prefix))
    val named = e3.getMessage.stripPrefix(prefix).split(", ").map(_.toLong).toSeq
    assert(named.size == 3 && named.distinct.size == 3 && named.forall(i => i >= 0 && i <= 3))
    val e4 = intercept[IllegalArgumentException](Merge.merge(
      a.copy(imagesRoot = "hdfs://nn/x"), a.copy(imagesRoot = "s3a://b/y")))
    assert(e4.getMessage == "requirement failed: cannot merge datasets whose images roots " +
      "live on different filesystems: 'hdfs://nn/x' vs 's3a://b/y' — reset_images_root one side first")
  }
}

class BooleanizeSpec extends SparkFunSuite {
  import spark.implicits._

  test("booleanize pivots arrays to flag family and back") {
    val df = Seq(
      (0L, Seq("red", "big")),
      (1L, Seq("red")),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]])
    ).toDF("id", "tags")
    val (boolDf, domain) = Booleanize.booleanizeColumn(df, "tags")
    assert(domain == Set("red", "big"))
    assert(boolDf.columns.toSeq == Seq("id", "tags.big", "tags.red"))
    val rows = boolDf.orderBy("id").collect()
    assert(rows.map(r => (r.getBoolean(1), r.getBoolean(2))).toSeq ==
      Seq((true, true), (false, true), (false, false), (false, false)))

    val back = Booleanize.debooleanizeColumn(boolDf, "tags")
    assert(back.columns.toSeq == Seq("id", "tags"))
    val arrs = back.orderBy("id").collect().map(_.getSeq[String](1).sorted)
    assert(arrs.toSeq == Seq(Seq("big", "red"), Seq("red"), Seq(), Seq()))
  }

  test("alignBoolFamilies fills missing flags with false") {
    val a = Seq((0L, true)).toDF("id", "tags.red")
    val b = Seq((1L, true)).toDF("id", "tags.blue")
    val (a2, b2) = Booleanize.alignBoolFamilies(a, b, Set("tags"), Set("tags"))
    assert(a2.columns.toSet == Set("id", "tags.red", "tags.blue"))
    assert(b2.columns.toSet == Set("id", "tags.red", "tags.blue"))
    assert(a2.collect()(0).getAs[Boolean]("tags.blue") == false)
  }

  test("alignBoolFamilies leaves foreign families absent") {
    val a = Seq((0L, "x")).toDF("id", "other")           // never booleanized
    val b = Seq((1L, true)).toDF("id", "tags.red")        // has tags family
    val (a2, b2) = Booleanize.alignBoolFamilies(a, b, Set.empty, Set("tags"))
    assert(!a2.columns.contains("tags.red")) // stays absent → null after union
    assert(b2.columns.contains("tags.red"))
  }
}

class RemapAppendSpec extends SparkFunSuite {
  import spark.implicits._

  test("remapClasses rewrites ids, names, and can drop unmapped") {
    val ds = tinyDataset()
    val out = Remap.remapClasses(ds, Map(0 -> 5), Map(5 -> "human"), removeNotMapped = true)
    assert(out.labelMap == Map(5 -> "human"))
    val cats = out.annotations.select("category_id", "category_str").distinct().collect()
    assert(cats.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((5, "human")))
    assert(out.numAnnotations == 4)
  }

  test("keepClasses/removeClasses filter by category") {
    val ds = tinyDataset()
    assert(Remap.keepClasses(ds, Set(1)).numAnnotations == 2)
    assert(Remap.removeClasses(ds, Set(1)).numAnnotations == 4)
  }

  test("remap presets: registry, auto-inversion, and preset remap") {
    import graft.operators.RemapPresets
    // both packaged presets register forward; only the injective
    // coco_to_pascalvoc also registers inverted (reference
    // remap_presets/__init__.py:37-49 — supercategory fuses ids, so no
    // (supercategory, coco) entry)
    assert(RemapPresets.presets.contains(("coco", "supercategory")))
    assert(RemapPresets.presets.contains(("coco", "pascalvoc")))
    assert(RemapPresets.presets.contains(("pascalvoc", "coco")))
    assert(!RemapPresets.presets.contains(("supercategory", "coco")))
    val fwd = RemapPresets.presets(("coco", "pascalvoc"))
    val inv = RemapPresets.presets(("pascalvoc", "coco"))
    assert(fwd.mapping(1) == 15 && fwd.names(15) == "person")
    assert(inv.mapping(15) == 1 && inv.names(1) == "person")
    assert(fwd.mapping.forall { case (k, v) => inv.mapping(v) == k })

    val ds = tinyDataset().copy(labelMap = Map(0 -> "unmapped_zero", 1 -> "person"))
    // coco id 1 = person → supercategory 1 'person'; id 0 isn't a coco id.
    // The preset's new_names overlay ALL output categories onto the label
    // map (reference remap_classes: `{**new_label_map, **new_names}`),
    // even ones no annotation carries.
    val out = Remap.remapFromPreset(ds, "coco", "supercategory")
    assert(out.labelMap(1) == "person" && out.labelMap(2) == "vehicle")
    assert(out.labelMap.size ==
      RemapPresets.presets(("coco", "supercategory")).names.size)
    assert(out.annotations.select("category_id").distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(1))

    val err = intercept[IllegalArgumentException] {
      Remap.remapFromPreset(ds, "coco", "nonexistent")
    }
    assert(err.getMessage.contains("coco\t->\tpascalvoc"))
  }

  test("preset CSV splitter honors quoted commas and escaped quotes") {
    import graft.operators.RemapPresets
    assert(RemapPresets.splitCsvLine("1,person,15,person") ==
      Vector("1", "person", "15", "person"))
    assert(RemapPresets.splitCsvLine("15,\"bench, long\",3,outdoor") ==
      Vector("15", "bench, long", "3", "outdoor"))
    assert(RemapPresets.splitCsvLine("1,\"say \"\"hi\"\"\",2,x") ==
      Vector("1", "say \"hi\"", "2", "x"))
  }

  test("remapFromCsv reads the mapping table through spark.read.csv") {
    val dir = java.nio.file.Files.createTempDirectory("remap_csv")
    val p = dir.resolve("m.csv")
    java.nio.file.Files.writeString(p,
      "input_category_id,output_category_id,output_category_name\n0,10,thing\n1,10,thing\n")
    val out = Remap.remapFromCsv(tinyDataset(), p.toString)
    assert(out.labelMap == Map(10 -> "thing"))
    assert(out.numAnnotations == tinyDataset().numAnnotations) // fused, none dropped
    // keep-unmapped variant: only id 1 remaps, id 0 stays
    java.nio.file.Files.writeString(p,
      "input_category_id,output_category_id,output_category_name\n1,10,thing\n")
    val kept = Remap.remapFromCsv(tinyDataset(), p.toString, removeNotMapped = false)
    assert(kept.labelMap.keySet == Set(0, 10))
  }

  test("remapFromOther aligns by name with lowest-free id allocation") {
    val ds = tinyDataset() // {0 person, 1 car}
    val other = tinyDataset().copy(labelMap = Map(3 -> "car", 7 -> "person"))
    val out = Remap.remapFromOther(ds, other)
    assert(out.labelMap == Map(3 -> "car", 7 -> "person"))
    assert(out.annotations.filter(col("category_str") === "person")
      .select("category_id").distinct().collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("remapFromOther: no label leakage from other; collision gets gap id") {
    val ds = tinyDataset() // categories 0, 1
    // other names a category ds doesn't have ('plane') — it must NOT leak
    // into the result label map (reference passes no new_names)
    val other = tinyDataset().copy(
      labelMap = Map(3 -> "car", 7 -> "person", 9 -> "plane"))
    val out = Remap.remapFromOther(tinyDataset(), other)
    assert(out.labelMap == Map(3 -> "car", 7 -> "person"))
    // unmatched name whose id collides with one of other's ids → lowest
    // value missing from the combined used set (first gap between sorted
    // used values); non-colliding unmatched names keep identity
    val ds2 = tinyDataset().copy(labelMap = Map(0 -> "person", 3 -> "bike"))
    val other2 = tinyDataset().copy(labelMap = Map(3 -> "person"))
    val out2 = Remap.remapFromOther(ds2, other2)
    // person: 0→3; bike: id 3 collides with other's {3} → gap in {0,3,3} = 1
    assert(out2.labelMap == Map(3 -> "person", 1 -> "bike"))
  }

  test("appendAnnotations allocates fresh ids and merges label map") {
    val ds = tinyDataset()
    val batch = Seq((0L, 9, 1.0, 1.0, 5.0, 5.0), (3L, 9, 2.0, 2.0, 6.0, 6.0))
      .toDF("image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val out = Appender.appendAnnotations(ds, batch, Map(9 -> "bike"))
    assert(out.numAnnotations == 8)
    assert(out.annotations.select("id").distinct().count() == 8)
    assert(out.labelMap(9) == "bike")
    // appended row on image 3 gets image 3's (null) split propagated
    val newRows = out.annotations.filter(col("category_id") === 9)
    assert(newRows.filter(col("image_id") === 3 && col("split").isNull).count() == 1)
    out.validated()
  }
}

class GrouperSpec extends SparkFunSuite {
  import spark.implicits._

  test("binIndex implements (lo,hi] bins with first-bin lo inclusion") {
    val df = Seq(0.0, 1.0, 2.5, 5.0, 10.0, 11.0).toDF("v")
    val edges = Array(0.0, 2.5, 5.0, 10.0)
    val out = df.select(col("v"), Grouper.binIndex(col("v"), edges).as("bin"))
      .collect().map(r => r.getDouble(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(out == Map(0.0 -> 0, 1.0 -> 0, 2.5 -> 0, 5.0 -> 1, 10.0 -> 2, 11.0 -> -1))
  }

  test("qcut edges come from quantiles; labels by policy") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val g = Grouper.ContinuousGroup("v", 4, qcut = true)
    val edges = Grouper.binEdges(df, g)
    assert(edges.length == 5)
    val counts = df.select(Grouper.binIndex(col("v"), edges).as("b"))
      .groupBy("b").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 100L)
    assert(counts.values.forall(c => c >= 20 && c <= 30)) // roughly balanced
  }

  test("resolveGroups joins root columns and bins continuous ones") {
    val ds = tinyDataset()
    val out = Grouper.resolveGroups(ds, Seq(
      Grouper.CategoricalGroup("split", root = true),
      Grouper.ContinuousGroup("box_width", 2, labelType = Grouper.BinIndexLabel)))
    assert(out.columns.contains("__group_split"))
    assert(out.columns.contains("__group_box_width"))
    assert(out.count() == 6)
  }

  test("histogram densifies the cross product with zeros") {
    val ds = tinyDataset()
    val h = Grouper.histogram(ds.annotations, Seq("split", "category_id"))
    // splits {train, valid} x categories {0, 1} = 4 rows incl (valid,1)=0
    assert(h.count() == 4)
    assert(h.filter(col("split") === "valid" && col("category_id") === 1)
      .select("count").collect()(0).getLong(0) == 0L)
  }

  test("qcut binning of constant data yields a single bin, not a crash") {
    val df = Seq(5.0, 5.0, 5.0).toDF("v")
    val edges = Grouper.binEdges(df, Grouper.ContinuousGroup("v", 4, qcut = true))
    val out = df.select(Grouper.binIndex(col("v"), edges).as("b")).collect()
    assert(out.forall(_.getInt(0) == 0))
  }

  test("histogram preserves null-group counts (null-safe join)") {
    val df = Seq((null.asInstanceOf[String], 1), ("a", 1), ("a", 2))
      .toDF("g", "v")
    val h = Grouper.histogram(df, Seq("g")).collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(h(None) == 1L, "null group count lost")
    assert(h(Some("a")) == 2L)
  }
}

class BboxSpec extends SparkFunSuite {
  import graft.functions.Bbox
  import spark.implicits._

  test("format parsing: case → units, name → geometry") {
    assert(Bbox.parseFormat("XYWH") == Bbox.BoxFormat(Bbox.CornerSize, false))
    assert(Bbox.parseFormat("cxcywh") == Bbox.BoxFormat(Bbox.CenterSize, true))
    assert(Bbox.parseFormat("XYXY") == Bbox.BoxFormat(Bbox.TwoCorner, false))
    assert(Bbox.parseFormat("xy") == Bbox.BoxFormat(Bbox.Point, true))
    intercept[IllegalArgumentException](Bbox.parseFormat("XYwh"))
    intercept[IllegalArgumentException](Bbox.parseFormat("ABCD"))
  }

  test("toCanonical/fromCanonical roundtrip all geometries") {
    val df = Seq((100.0, 50.0, 40.0, 20.0)).toDF("a", "b", "c", "d")
    for (fmtName <- Seq("XYXY", "CXCYWH", "XYWH")) {
      val fmt = Bbox.parseFormat(fmtName)
      // canonical -> fmt -> canonical is identity
      val asFmt = df.select(Bbox.fromCanonical(fmt, col("a"), col("b"), col("c"), col("d")): _*)
      val cols = fmt.columnNames.map(c => col(s"`$c`"))
      val back = asFmt.select(Bbox.toCanonical(fmt, cols(0), cols(1), cols(2), cols(3)): _*)
      val r = back.collect()(0)
      assert((0 to 3).map(r.getDouble) == Seq(100.0, 50.0, 40.0, 20.0), fmtName)
    }
  }

  test("relative export divides by joined image dims") {
    val ds = tinyDataset()
    val rel = Bbox.exportBoxes(ds, Bbox.parseFormat("xywh"))
    val r = rel.filter(col("id") === 1).select("x_min", "y_min", "width", "height").collect()(0)
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 1.0) // full-image box
  }

  test("capBoxes clips to image bounds") {
    val ds = tinyDataset()
    val capped = graft.functions.Bbox.capBoxes(ds)
    val r = capped.annotations.filter(col("id") === 2)
      .select("box_x_min", "box_width").collect()(0)
    assert(r.getDouble(0) == 700.0 && r.getDouble(1) == 100.0) // clipped to 800 width
    val neg = capped.annotations.filter(col("id") === 5)
      .select("box_x_min", "box_width").collect()(0)
    assert(neg.getDouble(0) == 0.0)
  }

  test("iou expression computes known overlaps") {
    val df = Seq((0.0, 0.0, 10.0, 10.0, 5.0, 0.0, 10.0, 10.0)).toDF(
      "x1", "y1", "w1", "h1", "x2", "y2", "w2", "h2")
    val v = df.select(Bbox.iou(col("x1"), col("y1"), col("w1"), col("h1"),
      col("x2"), col("y2"), col("w2"), col("h2")).as("iou")).collect()(0).getDouble(0)
    assert(math.abs(v - 50.0 / 150.0) < 1e-12)
  }
}

class SkewJoinSpec extends SparkFunSuite {
  import spark.implicits._

  test("saltedJoin equals a plain join and spreads the hot key") {
    // 1000 fact rows, 990 of them on one hot key
    val fact = spark.range(1000).select(
      when(col("id") < 990, 7L).otherwise(col("id")).as("k"), col("id").as("v"))
    val dim = Seq((7L, "hot"), (995L, "cold")).toDF("dk", "name")
    val plain = fact.join(dim, fact("k") === dim("dk")).count()
    val salted = graft.operators.SkewJoin.saltedJoin(fact, dim, "k", "dk", salts = 8)
    assert(salted.count() == plain)
    assert(salted.count() == 991)
    // left join keeps unmatched fact rows exactly once
    val left = graft.operators.SkewJoin.saltedJoin(fact, dim, "k", "dk", salts = 4, "left")
    assert(left.count() == 1000)
    assert(left.filter(col("name").isNull).count() == 9)
  }

  test("salt is a pure function of row content — partitioning-invariant") {
    val dim = Seq((7L, "hot")).toDF("dk", "name")
    // same rows under three different physical layouts → identical salted
    // assignment (the r6 monotonically_increasing_id salt failed exactly
    // this: its value depended on partition index and row order)
    def salts(f: org.apache.spark.sql.DataFrame): Set[(Long, Int)] = {
      val saltInput = f.columns.toSeq.map(c => col(s"`$c`"))
      f.withColumn("__salt", pmod(xxhash64(saltInput: _*), lit(8)).cast("int"))
        .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    }
    val fact = spark.range(500).select(
      when(col("id") < 490, 7L).otherwise(col("id")).as("k"), col("id").as("v"))
    val base = salts(fact)
    assert(base == salts(fact.repartition(13, col("v"))))
    assert(base == salts(fact.coalesce(1)))
    assert(base.map(_._2).size > 1) // the hot key actually spreads
    // and the join itself stays correct under a different layout
    val j1 = graft.operators.SkewJoin
      .saltedJoin(fact, dim, "k", "dk", salts = 8).count()
    val j2 = graft.operators.SkewJoin
      .saltedJoin(fact.repartition(13, col("v")), dim, "k", "dk", salts = 8).count()
    assert(j1 == j2 && j1 == 490)
  }

  test("default salt skips unhashable map columns") {
    // xxhash64 rejects MapType at analysis — a fact table carrying a map
    // column must still be salt-joinable with the default saltCols (the
    // map is excluded from the salt input, the join result is unchanged)
    val dim = Seq((7L, "hot")).toDF("dk", "name")
    val fact = spark.range(100).select(
      when(col("id") < 90, 7L).otherwise(col("id")).as("k"), col("id").as("v"),
      map(lit("a"), col("id")).as("attrs"))
    val out = graft.operators.SkewJoin.saltedJoin(fact, dim, "k", "dk", salts = 8)
    assert(out.count() == 90)
    assert(out.columns.contains("attrs"))
    // an ONLY-map fact has no hashable default salt input → explicit error,
    // not an opaque analysis failure
    val mapsOnly = spark.range(3).select(map(lit("a"), col("id")).as("attrs"))
    val err = intercept[IllegalArgumentException] {
      graft.operators.SkewJoin.saltedJoin(
        mapsOnly.withColumnRenamed("attrs", "k"), dim, "k", "dk")
    }
    assert(err.getMessage.contains("saltCols"))
  }
}
