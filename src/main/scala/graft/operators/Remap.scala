package graft.operators

import graft.model.GraftDataset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

/** Class (category-dimension) remapping — reference remap_classes family
  * (lours/dataset/dataset.py:3340-4015).
  *
  * The mapping is a tiny driver-side dict, so the rewrite is a literal-map
  * `element_at` (codegen'd, no shuffle, no join) over the annotations table;
  * the label map is rewritten on the driver.
  */
object Remap {

  /** Rewrite `category_id` through `mapping` (dataset.py:3340-3579,
    * reference default `remove_not_mapped=True`). Mirrors the reference's
    * edge semantics exactly:
    *   - `removeNotMapped = false` extends the mapping with identity
    *     entries for every CURRENT label-map id not already mapped — so an
    *     annotation whose category is in neither the mapping nor the label
    *     map is dropped either way (pandas `isin(class_mapping)`);
    *   - the new label map takes `out -> labelMap(in)` only for mapped ids
    *     PRESENT in the current label map, then overlays ALL `newNames`
    *     entries (which may introduce ids no annotation carries). */
  def remapClasses(
      ds: GraftDataset,
      mapping: Map[Int, Int],
      newNames: Map[Int, String] = Map.empty,
      removeNotMapped: Boolean = true,
      removeEmptiedImages: Boolean = false): GraftDataset = {
    val effMapping: Map[Int, Int] =
      if (removeNotMapped) mapping
      else mapping ++ ds.labelMap.keysIterator
        .filterNot(mapping.contains).map(k => k -> k)
    // deterministic fused-name deduction: iterate ascending input id with
    // last-wins (the reference iterates class_mapping insertion order —
    // row order of a preset/CSV, which is ascending input id in practice;
    // raw HashMap iteration order would let an unrelated entry flip which
    // source class names a fused output)
    val newLabelMap: Map[Int, String] =
      effMapping.toSeq.sortBy(_._1).foldLeft(Map.empty[Int, String]) {
        case (acc, (in, out)) if ds.labelMap.contains(in) =>
          acc + (out -> ds.labelMap(in))
        case (acc, _) => acc
      } ++ newNames
    val mapExpr =
      if (effMapping.isEmpty) lit(null).cast(IntegerType)
      else element_at(
        map(effMapping.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
        col("category_id"))
    val remapped = ds.annotations.withColumn("__new_cat", mapExpr)
      .filter(col("__new_cat").isNotNull)
      .withColumn("category_id", col("__new_cat"))
      .drop("__new_cat")
      .withColumn("category_str",
        GraftDataset.labelMapColumn(newLabelMap, col("category_id")))
    val out = ds.copy(annotations = remapped, labelMap = newLabelMap)
    if (!removeEmptiedImages) out
    else out.copy(images = Locators.notEmptiedImages(ds, remapped))
  }

  /** Keep only the given classes (identity remap on the kept subset) —
    * dataset.py:4017-4255. */
  def keepClasses(ds: GraftDataset, ids: Set[Int],
      removeEmptiedImages: Boolean = false): GraftDataset =
    remapClasses(ds, ids.map(i => i -> i).toMap,
      removeNotMapped = true, removeEmptiedImages = removeEmptiedImages)

  /** Drop the given classes — dataset.py:4017-4255. */
  def removeClasses(ds: GraftDataset, ids: Set[Int],
      removeEmptiedImages: Boolean = false): GraftDataset =
    keepClasses(ds, ds.labelMap.keySet -- ids, removeEmptiedImages)

  /** Remap from a mapping table with columns `input_category_id`,
    * `output_category_id` and (optionally) `output_category_name`
    * (remap_from_dataframe, dataset.py:3633-3792; reference default
    * `remove_not_mapped=True`). The table is a dimension — collected to
    * the driver (tiny by contract). Name resolution is first-occurrence
    * per output id, matching the reference's `groupby(...).first()`. */
  def remapFromDataFrame(ds: GraftDataset, df: DataFrame,
      removeNotMapped: Boolean = true,
      removeEmptiedImages: Boolean = false): GraftDataset = {
    val nameCol =
      if (df.columns.contains("output_category_name"))
        col("output_category_name").cast(StringType)
      else lit(null).cast(StringType)
    val rows = df.select(
      col("input_category_id").cast(IntegerType),
      col("output_category_id").cast(IntegerType),
      nameCol.as("output_category_name")).collect()
    val mapping = rows.map(r => r.getInt(0) -> r.getInt(1)).toMap
    val names = rows.foldLeft(Map.empty[Int, String]) { (acc, r) =>
      if (r.isNullAt(2) || acc.contains(r.getInt(1))) acc
      else acc + (r.getInt(1) -> r.getString(2))
    }
    remapClasses(ds, mapping, names, removeNotMapped, removeEmptiedImages)
  }

  /** Remap from a CSV file with the [[remapFromDataFrame]] column contract
    * (remap_from_csv, dataset.py:3690-3792). Read through `spark.read.csv`
    * so quoting, globs, and remote filesystems all behave. */
  def remapFromCsv(ds: GraftDataset, csvPath: String,
      removeNotMapped: Boolean = true,
      removeEmptiedImages: Boolean = false): GraftDataset =
    remapFromDataFrame(ds,
      ds.images.sparkSession.read.option("header", "true").csv(csvPath),
      removeNotMapped, removeEmptiedImages)

  /** Remap through a packaged preset, addressed as (from, to) label-map
    * names (remap_from_preset, dataset.py:3581-3631). */
  def remapFromPreset(ds: GraftDataset, inputMap: String, outputMap: String,
      removeNotMapped: Boolean = true,
      removeEmptiedImages: Boolean = false): GraftDataset = {
    val p = RemapPresets.presets.getOrElse((inputMap, outputMap),
      throw new IllegalArgumentException(
        s"Preset not available. Available presets are:\n${RemapPresets.listAvailablePresets}"))
    remapClasses(ds, p.mapping, p.names, removeNotMapped, removeEmptiedImages)
  }

  /** Align this dataset's category ids to another's label map by name
    * (remap_from_other, dataset.py:3794-4015). Mirrors the reference
    * exactly: a name present in `other` takes other's id; an absent name
    * (kept only when `!removeNotMapped`) keeps its own id UNLESS that id
    * collides with one of other's ids, in which case it gets the lowest
    * value missing from ds ids ∪ other ids ∪ already-allocated ids (first
    * gap strictly between sorted used values, else max+1). NO new-name
    * overlay: the result label map carries only categories this dataset
    * actually maps — other's unmatched categories must not leak in. */
  def remapFromOther(ds: GraftDataset, other: GraftDataset,
      removeNotMapped: Boolean = false): GraftDataset = {
    val byName = other.labelMap.map(_.swap)
    def lowestMissing(used: Iterable[Int]): Int = {
      val sorted = used.toSet.toSeq.sorted
      sorted.zip(sorted.tail)
        .collectFirst { case (a, b) if b - a > 1 => a + 1 }
        .getOrElse(sorted.max + 1)
    }
    var mapping = Map.empty[Int, Int]
    for ((k, v) <- ds.labelMap.toSeq.sortBy(_._1)) {
      byName.get(v) match {
        case Some(newId) => mapping += k -> newId
        case None if !removeNotMapped =>
          mapping += k -> (if (other.labelMap.contains(k))
            lowestMissing(ds.labelMap.keys ++ other.labelMap.keys ++ mapping.values)
          else k)
        case None => ()
      }
    }
    remapClasses(ds, mapping, Map.empty, removeNotMapped)
  }
}

/** Packaged remap presets — reference `remap_presets/__init__.py:14-53`.
  *
  * Each `<from>_to_<to>.csv` resource is parsed once at first use into an
  * `old_id -> new_id` mapping plus `new_id -> name` names (first occurrence
  * per output id, the reference's `groupby(...).first()`). A preset whose
  * output ids are unique is additionally registered INVERTED under
  * `(to, from)` — so `coco_to_pascalvoc.csv` also provides
  * (pascalvoc, coco), while the non-injective supercategory preset does
  * not invert. All driver-side: the presets are ≤100-row dimensions.
  */
object RemapPresets {

  final case class Preset(mapping: Map[Int, Int], names: Map[Int, String])

  /** Registered resource files (the classpath can't be globbed portably,
    * so additions register here). */
  private val presetFiles = Seq("coco_to_pascalvoc.csv", "coco_to_supercategory.csv")

  /** Minimal quote-aware CSV field splitter (RFC-4180 subset: double
    * quotes guard embedded commas, "" escapes a quote) — the reference
    * loads presets with pandas read_csv, so a future preset row like
    * `15,"bench, long",3,outdoor` must not silently shift fields. */
  private[graft] def splitCsvLine(line: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val c = line(i)
      if (inQuotes) {
        if (c == '"' && i + 1 < line.length && line(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') inQuotes = false
        else cur += c
      } else c match {
        case '"' => inQuotes = true
        case ',' => out += cur.result().trim; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    out += cur.result().trim
    out.result()
  }

  /** (input_id, input_name, output_id, output_name) rows, CSV order. */
  private def parse(resource: String): Seq[(Int, String, Int, String)] = {
    val in = getClass.getResourceAsStream(s"/graft/remap_presets/$resource")
    require(in != null, s"missing preset resource $resource")
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    val header = splitCsvLine(lines.head).zipWithIndex.toMap
    lines.tail.filter(_.nonEmpty).map { l =>
      val f = splitCsvLine(l)
      (f(header("input_category_id")).toInt, f(header("input_category_name")),
        f(header("output_category_id")).toInt, f(header("output_category_name")))
    }
  }

  private def firstWins(pairs: Seq[(Int, String)]): Map[Int, String] =
    pairs.foldLeft(Map.empty[Int, String]) { (acc, kv) =>
      if (acc.contains(kv._1)) acc else acc + kv
    }

  lazy val presets: Map[(String, String), Preset] =
    presetFiles.foldLeft(Map.empty[(String, String), Preset]) { (acc, file) =>
      val stem = file.stripSuffix(".csv")
      val parts = stem.split("_to_")
      require(parts.length == 2,
        s"badly named preset file (want <a>_to_<b>.csv): $file")
      val rows = parse(file)
      val fwd = (parts(0), parts(1)) -> Preset(
        rows.map(r => r._1 -> r._3).toMap,
        firstWins(rows.map(r => r._3 -> r._4)))
      val outIds = rows.map(_._3)
      val invertible = outIds.distinct.length == outIds.length
      val inv =
        if (invertible && !acc.contains((parts(1), parts(0))))
          Seq((parts(1), parts(0)) -> Preset(
            rows.map(r => r._3 -> r._1).toMap,
            firstWins(rows.map(r => r._1 -> r._2))))
        else Nil
      acc + fwd ++ inv
    }

  def listAvailablePresets: String =
    presets.keys.toSeq.sorted.map { case (a, b) => s"$a\t->\t$b" }.mkString("\n")
}
