package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (forked test JVM):
  * the mains' session, with 4 cores pinned so results do not depend on the
  * box the suite runs on. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Tiny deterministic dataset: 4 images, 6 annotations, 2 categories. */
  def tinyDataset(): graft.model.GraftDataset = {
    import spark.implicits._
    val images = Seq(
      (0L, 640, 480, "a.jpg", "train"),
      (1L, 800, 600, "b.jpg", "train"),
      (2L, 640, 480, "c.png", "valid"),
      (3L, 320, 240, "d.jpg", null.asInstanceOf[String])
    ).toDF("id", "width", "height", "relative_path", "split")
    val annotations = Seq(
      (0L, 0L, 0, 10.0, 20.0, 100.0, 50.0),
      (1L, 0L, 1, 0.0, 0.0, 640.0, 480.0),
      (2L, 1L, 0, 700.0, 100.0, 200.0, 50.0), // overflows width on purpose
      (3L, 1L, 1, 5.0, 5.0, 10.0, 10.0),
      (4L, 2L, 0, 1.0, 1.0, 2.0, 2.0),
      (5L, 2L, 0, -5.0, 1.0, 2.0, 2.0) // negative coord on purpose
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    graft.model.GraftDataset.create(images, annotations,
      Map(0 -> "person", 1 -> "car"), datasetName = Some("tiny"))
  }

  def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq
}
