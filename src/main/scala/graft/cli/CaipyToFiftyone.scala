package graft.cli

import graft.Sessions
import graft.io.{Caipy, CaipyGeneric, Fiftyone}
import graft.model.GraftDataset
import graft.operators.Diff
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, FileSystems, Path, Paths, StandardWatchEventKinds, WatchEvent}
import scala.jdk.CollectionConverters._

/** Spark-native counterpart of the reference CLI watcher tool
  * (`lours/cli/caipy_to_fiftyone.py:1-319`): convert a caipy tree into the
  * FiftyOne handoff format for quick inspection, optionally watching the
  * annotations folder and re-exporting incrementally on change.
  *
  * The reference pushes samples into a live FiftyOne service and launches
  * its webapp (`fo.launch_app`, caipy_to_fiftyone.py:289-319) — an external
  * service by nature, out of engine scope. This tool produces the
  * service-free equivalent the engine owns end to end:
  *
  *  - `<out>/current/`          full sample JSONL (one fo.Sample dict per
  *                              line — the same frame q99 gates)
  *  - `<out>/updates/batch_N/`  on each detected change, the UPSERT set:
  *                              full samples for images that are new or
  *                              whose own row / annotations changed
  *                              (reference `update_dataset`,
  *                              caipy_to_fiftyone.py:72-108, re-adds
  *                              exactly these via `existing="update"`)
  *  - `<out>/removed/batch_N.json`  lours image ids dropped since the last
  *                              load (the reference keeps only samples
  *                              matching `common.images.index` — same end
  *                              state: a consumer deletes these, then
  *                              applies the upserts)
  *  - `<out>/meta.json`         dataset name + the service-side flags
  *                              (persistent / app / port) recorded for the
  *                              FiftyOne-side loader; inert here.
  *
  * Change detection is the same diff the reference uses (`dataset_diff`,
  * difftools.py:10-186 → [[Diff.datasetDiff]]): changed-annotation rows
  * roll up to their image, so an image whose labels changed is re-emitted
  * whole — the JSONL consumer replaces the sample instead of surgically
  * filtering label ids the way the live-service path must
  * (caipy_to_fiftyone.py:83-101).
  *
  * The watch loop is a `java.nio.WatchService` over the annotations tree
  * (split subdirs registered recursively) with the reference's
  * cooldown-debounce semantics (caipy_to_fiftyone.py:110-128): first event
  * → sleep `cooldown`, drain everything queued meanwhile, reload once.
  */
object CaipyToFiftyone {

  case class Config(
      mode: String = "vanilla",
      inputFolder: Option[String] = None,
      imagesRoot: Option[String] = None,
      annotationsRoot: Option[String] = None,
      splitsToRead: Option[Seq[String]] = None,
      datasetName: Option[String] = None,
      outDir: String = "",
      watch: Boolean = false,
      cooldownMs: Long = 1000L,
      // bounds the watch loop (tests, CI); the reference waits forever
      maxUpdates: Int = Int.MaxValue,
      persistent: Boolean = true,
      launchApp: Boolean = true,
      port: Int = 0) {
    /** The folder whose JSON tree is read (and watched). */
    def annotationsDir: String = mode match {
      case "vanilla" => s"${inputFolder.get.stripSuffix("/")}/Annotations"
      case _ => annotationsRoot.get
    }
  }

  def parseArgs(args: Array[String]): Config = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
    var c = Config()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--mode" => c = c.copy(mode = args(i + 1)); i += 2
        case "--input-folder" | "-i" => c = c.copy(inputFolder = Some(args(i + 1))); i += 2
        case "--images_root" | "--ir" => c = c.copy(imagesRoot = Some(args(i + 1))); i += 2
        case "--annotations_root" | "--ar" => c = c.copy(annotationsRoot = Some(args(i + 1))); i += 2
        case "--splits-to-read" | "-s" =>
          val vals = args.drop(i + 1).takeWhile(!_.startsWith("-"))
          c = c.copy(splitsToRead = Some(vals.toSeq)); i += 1 + vals.length
        case "--dataset-name" | "--name" | "-n" => c = c.copy(datasetName = Some(args(i + 1))); i += 2
        case "--out" | "-o" => c = c.copy(outDir = args(i + 1)); i += 2
        case "--watch" | "-w" => c = c.copy(watch = true); i += 1
        case "--cooldown-ms" => c = c.copy(cooldownMs = args(i + 1).toLong); i += 2
        case "--max-updates" => c = c.copy(maxUpdates = args(i + 1).toInt); i += 2
        case "--not-persistent" | "--np" => c = c.copy(persistent = false); i += 1
        case "--no-app" | "--na" => c = c.copy(launchApp = false); i += 1
        case "--port" | "-p" => c = c.copy(port = args(i + 1).toInt); i += 2
        case "--only-local" => i += 1 // service-side; recorded in meta only
        case other => fail(s"unknown argument: $other")
      }
    }
    if (c.mode == "vanilla" && c.inputFolder.isEmpty)
      fail("--input-folder is required in vanilla mode")
    if (c.mode == "generic" && (c.imagesRoot.isEmpty || c.annotationsRoot.isEmpty))
      fail("--images_root and --annotations_root are required in generic mode")
    if (c.outDir.isEmpty) fail("--out is required (JSONL handoff directory)")
    c
  }

  /** Splits actually on disk (reference: splits_to_read=None → all).
    * Listed through the Hadoop FileSystem API, like the loaders this feeds
    * (Caipy.fromAnnotationsRoot went hdfs/s3-capable in round 8 — a
    * java.nio probe here would silently discover zero splits on a remote
    * annotations root and misroute to the flat dialect). */
  private def splitsOnDisk(spark: SparkSession, annDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(annDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  /** Load the caipy tree per the configured mode. A generic root with no
    * split subdirectories falls back to the flat single-folder dialect. */
  def load(spark: SparkSession, c: Config): GraftDataset = {
    val splits = c.splitsToRead.getOrElse(splitsOnDisk(spark, c.annotationsDir))
    val ds = c.mode match {
      case "vanilla" =>
        Caipy.fromCaipy(spark, c.inputFolder.get, splits = splits,
          datasetName = c.datasetName.orElse(
            Some(Paths.get(c.inputFolder.get).getFileName.toString)))
      case "generic" if splits.nonEmpty =>
        Caipy.fromAnnotationsRoot(spark, c.annotationsRoot.get,
          imagesRoot = c.imagesRoot.get, splits = splits,
          datasetName = c.datasetName.orElse(
            Some(Paths.get(c.imagesRoot.get).getFileName.toString)))
      case "generic" =>
        // SET the root (the flat dialect's relative paths are given w.r.t.
        // the user's images_root) — resetImagesRoot would RE-ANCHOR them,
        // i.e. rewrite every path to keep pointing into the annotations
        // folder the loader happened to start from
        CaipyGeneric.fromCaipyGeneric(spark, c.annotationsRoot.get)
          .copy(imagesRoot = c.imagesRoot.get)
      case m => throw new IllegalArgumentException(s"unknown mode: $m")
    }
    c.datasetName.fold(ds)(ds.rename)
  }

  /** Initial full conversion: `<out>/current/` + `<out>/meta.json`. */
  def convert(ds: GraftDataset, c: Config): Unit = {
    Fiftyone.writeJsonl(ds, s"${c.outDir}/current")
    // escape: the name defaults to a folder basename, which may carry
    // quotes/backslashes — written raw they make meta.json unparseable
    val name = graft.io.Json.str(
      c.datasetName.orElse(ds.datasetName).getOrElse("dataset"))
    Files.createDirectories(Paths.get(c.outDir))
    Files.writeString(Paths.get(c.outDir, "meta.json"),
      s"""{"dataset_name":$name,"persistent":${c.persistent},""" +
        s""""launch_app":${c.launchApp},"port":${c.port}}""")
  }

  /** One watcher update (reference `update_dataset`): reload the tree,
    * diff against `old`, emit the upsert/remove batch, refresh `current/`.
    * Returns the fresh dataset (the next `old`) and the batch's
    * (upsertImages, removedImages) counts.
    *
    * `old` must be pinned (eager localCheckpoint → lineage-free blocks):
    * Spark caches leaf-file listings per path for the session (default
    * TTL = forever), so the refreshByPath below — required for the reload
    * to see the NEW file set — also cuts any un-pinned frame's lineage
    * loose, and `old` would re-scan the CHANGED tree at diff time. The
    * watch loop's frames arrive pinned already ([[watchLoop]] pins at loop
    * entry; this method pins every `fresh` it returns) and are NOT pinned
    * again — re-materializing the whole dataset each batch doubled its
    * block storage for nothing; a direct caller's lineage-carrying frame
    * is detected and pinned here. */
  def applyUpdate(spark: SparkSession, c: Config, old0: GraftDataset,
      batch: Int): (GraftDataset, Long, Long) = {
    def pinnedAlready(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical.getClass.getSimpleName == "LogicalRDD"
    val old =
      if (pinnedAlready(old0.images) && pinnedAlready(old0.annotations)) old0
      else old0.copy(images = old0.images.localCheckpoint(),
        annotations = old0.annotations.localCheckpoint())
    spark.catalog.refreshByPath(c.annotationsDir)
    // pin `fresh` EAGERLY too, at the one moment its files are known
    // readable: everything downstream (diff, exports, and this dataset's
    // role as the next `old`) then runs off lineage-free blocks, so a
    // tree rewrite arriving mid-diff — or before the NEXT update — can't
    // poison it with FAILED_READ_FILE on vanished paths. If the tree
    // changes between listing and this materialization, the checkpoint
    // throws and the watch loop's retry handling owns it.
    val loaded = load(spark, c)
    val fresh = loaded.copy(images = loaded.images.localCheckpoint(),
      annotations = loaded.annotations.localCheckpoint())
    val d = Diff.datasetDiff(fresh, old)
    // new or changed (own row OR annotations) → full re-emitted samples
    val upsertIds = d.leftOnly.images.select("id")
      .unionByName(d.changed.images.select("id"))
    val upsert = graft.operators.Locators.filterImagesByIdDf(fresh, upsertIds)
    val nUp = upsert.images.count()
    Fiftyone.writeJsonl(upsert, f"${c.outDir}/updates/batch_$batch%05d")
    // driver-side collect is bounded by the image-id count of one removal
    // batch — the watcher targets inspection-scale trees (the reference
    // pushes every sample through a local FiftyOne service); the full
    // exports stay distributed via writeJsonl
    val removedIds = d.rightOnly.images.select("id")
      .collect().map(_.getLong(0)).sorted
    Files.createDirectories(Paths.get(c.outDir, "removed"))
    Files.writeString(Paths.get(c.outDir, f"removed/batch_$batch%05d.json"),
      removedIds.mkString("[", ",", "]"))
    Fiftyone.writeJsonl(fresh, s"${c.outDir}/current")
    (fresh, nUp, removedIds.length.toLong)
  }

  /** Debounced watch loop over the annotations tree. Blocks until
    * `maxUpdates` updates have run (reference: forever). */
  def watchLoop(spark: SparkSession, c: Config, initial: GraftDataset): Unit = {
    val watcher = FileSystems.getDefault.newWatchService()
    // registration races the tree: a subdir seen in an event (or listed
    // here) can vanish before p.register/Files.list runs — swallow and let
    // the next event retry, same contract as the reload path below. The
    // Files.list stream is closed explicitly (each one holds a dir fd; a
    // long-lived watcher would leak them).
    def register(p: Path): Unit =
      try {
        p.register(watcher, StandardWatchEventKinds.ENTRY_CREATE,
          StandardWatchEventKinds.ENTRY_MODIFY, StandardWatchEventKinds.ENTRY_DELETE)
        val s = Files.list(p)
        try s.iterator().asScala.filter(Files.isDirectory(_)).foreach(register)
        finally s.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[caipy2fo] watch-register skipped $p: $e")
      }
    register(Paths.get(c.annotationsDir))
    // pin the initial state NOW, while its files are still on disk — the
    // first change event means the tree no longer matches `initial`, and
    // an unpinned frame would re-read vanished files at diff time
    var old = initial.copy(images = initial.images.localCheckpoint(),
      annotations = initial.annotations.localCheckpoint())
    var batch = 0
    try {
      while (batch < c.maxUpdates) {
        val first = watcher.take() // blocks for the first event
        Thread.sleep(c.cooldownMs) // cooldown: coalesce a burst of writes
        // drain everything queued during the cooldown (the first key
        // included) — the reload below reads the whole folder, so the
        // events' data content is already covered; the drain only needs to
        // pick up newly created directories for future watching
        var k: java.nio.file.WatchKey = first
        while (k != null) {
          val evs: java.util.List[WatchEvent[_]] = k.pollEvents()
          // event contexts are relative to the KEY's directory (which may be
          // a nested subdir), not the annotations root
          val keyDir = k.watchable().asInstanceOf[Path]
          evs.asScala.foreach { e =>
            // a burst larger than the key's queue emits OVERFLOW with a
            // null context — nothing to resolve (the reload reads the whole
            // folder anyway, so dropped events lose no data)
            if (e.kind() != StandardWatchEventKinds.OVERFLOW && e.context() != null) {
              val p = keyDir.resolve(e.context().toString)
              if (Files.isDirectory(p)) register(p) // new split dir appears
            }
          }
          k.reset(); k = watcher.poll()
        }
        // a reload can fail transiently — the tree is being rewritten under
        // us (all JSONs briefly deleted, a half-written file fails parsing).
        // The watcher must survive that (the reference's watchdog observer
        // thread does): keep the previous state, stay subscribed, and let
        // the next event retry; the diff against the kept `old` then emits
        // everything that changed across the failed window in one batch.
        try {
          val (fresh, nUp, nRm) = applyUpdate(spark, c, old, batch)
          System.err.println(s"[caipy2fo] batch $batch: upserts=$nUp removed=$nRm")
          old = fresh
          batch += 1
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[caipy2fo] reload failed (will retry on next change): $e")
        }
      }
    } finally watcher.close()
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    // SPARK_GRAFT_MASTER: deployment override of the local[cpus] master
    val spark = Sessions.build("caipy2fo",
      extra = sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toMap)
    val ds = load(spark, c)
    convert(ds, c)
    System.err.println(s"[caipy2fo] exported ${ds.numImages} samples to ${c.outDir}/current")
    if (c.watch) watchLoop(spark, c, ds)
  }
}
