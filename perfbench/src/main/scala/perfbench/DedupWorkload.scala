package perfbench

import graft.io.Jsonl
import graft.llm.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Training-corpus dedup: a synthetic corpus with exact copies, near
  * copies and one planted mega-cluster of identical documents, plus a
  * held-out reference corpus, both as JSONL shards. One iteration reads
  * both through the io layer, runs exact dedup, MinHash near-duplicate
  * pairs, clusters over those pairs, keeps one representative per cluster,
  * matches the representatives against the reference and writes them out
  * as JSONL. The mega-cluster fills every band bucket of its members past
  * the 256-member cap, the skew case of the band join. */
final class DedupWorkload(spark: SparkSession, seed: Long, workDir: Path) extends Workload {
  val name = "dedup"
  val p = Gen.DedupParams(docs = 1500, exactFamilies = 80, nearFamilies = 150,
    megaCluster = 300, refDocs = 500, refPlanted = 120, words = (60, 100))
  val params = Seq(
    Param("docs", s"${p.docs} corpus + ${p.refDocs} reference, ${p.words} words each", "input size"),
    Param("duplicate_share", s"${2.0 * (p.exactFamilies + p.nearFamilies) / p.docs} in exact and near pairs",
      "near pairs have shingle Jaccard >= 0.96 and unrelated documents ~0, far from the 0.7 threshold, so banding recall is exact"),
    Param("mega_cluster", p.megaCluster.toString, "identical documents above the 256-member bucket cap: the skewed band bucket"),
    Param("reference_planted", p.refPlanted.toString, "reference documents that are near copies of a cluster representative"))

  def opsPerIteration: Int = 7
  def rowsPerIteration: Long = p.docs.toLong + p.refDocs
  private var truth: Gen.Corpus = _
  private val in = workDir.resolve("input")
  private val out = workDir.resolve("output")

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType, nullable = false)))

  /** JSONL shards, one per core, written with plain file IO. */
  private def writeShards(ds: Seq[Gen.Doc], dir: Path): Unit = {
    Files.createDirectories(dir)
    val shards = spark.sparkContext.defaultParallelism
    ds.grouped((ds.size + shards - 1) / shards).zipWithIndex.foreach { case (part, i) =>
      Files.write(dir.resolve(f"part-$i%05d.json"),
        part.map(d => s"""{"doc_id":${d.id},"text":${Json.str(d.text)}}""").mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }

  def setup(): Unit = {
    Fs.deleteTree(in)
    val c = Gen.corpus(seed, p)
    writeShards(c.docs, in.resolve("corpus"))
    writeShards(c.ref, in.resolve("reference"))
    truth = c.copy(docs = IndexedSeq.empty, ref = IndexedSeq.empty)
  }

  def iteration(ctx: Ctx): Unit = {
    Fs.deleteTree(out)
    val (docs, ref) = ctx.op("read_corpus") {
      def read(name: String) =
        ctx.call("io", "Jsonl.fromJsonl")(Jsonl.fromJsonl(spark, in.resolve(name).toString, schema)).persist()
      val (d, r) = (read("corpus"), read("reference"))
      (d, r, ctx.action("count")(d.count()), ctx.action("count")(r.count()))
    } { case (_, _, nd, nr) =>
      ctx.expect("corpus documents read", p.docs, nd)
      ctx.expect("reference documents read", p.refDocs, nr)
    } match { case (d, r, _, _) => (d, r) }
    ctx.op("exact_dedup") {
      val d = ctx.call("llm", "Dedup.exactDedup")(Dedup.exactDedup(docs))
      ctx.action("count")(d.count())
    }(n => ctx.expect("exact-dedup survivors", truth.exactSurvivors, n))
    val pairs = ctx.op("near_dup_pairs") {
      val ps = ctx.call("llm", "Dedup.minHashNearDups")(Dedup.minHashNearDups(docs)).persist()
      (ps, ctx.action("count")(ps.count()))
    }(r => ctx.expect("verified near-duplicate pairs", truth.pairs, r._2))._1
    // what nearDupClusters does in one call, over the pairs already found,
    // so the MinHash join runs once per iteration
    val clusters = ctx.op("clusters") {
      val c = ctx.call("llm", "Dedup.clusterPairs")(Dedup.clusterPairs(docs.select("doc_id"), pairs)).persist()
      val row = ctx.action("agg")(c.groupBy("cluster_id").count()
        .agg(count(lit(1)), max(col("count"))).head())
      (c, row)
    } { case (_, row) =>
      ctx.expect("clusters", truth.clusters, row.getLong(0))
      ctx.expect("largest cluster", truth.megaSize, row.getLong(1))
    }._1
    val reps = ctx.op("keep_representatives") {
      val r = ctx.call("llm", "Dedup.keepClusterRepresentatives")(
        Dedup.keepClusterRepresentatives(docs, clusters)).persist()
      (r, ctx.action("count")(r.count()))
    }(r => ctx.expect("cluster representatives", truth.clusters, r._2))._1
    ctx.op("cross_corpus") {
      val x = ctx.call("llm", "Dedup.crossCorpusNearDups")(Dedup.crossCorpusNearDups(reps, ref))
      ctx.action("count")(x.count())
    }(n => ctx.expect("representatives matched in the reference", truth.crossPairs, n))
    ctx.op("write_survivors")(ctx.call("io", "Jsonl.toJsonl")(Jsonl.toJsonl(reps, out.toString))) { _ =>
      ctx.expect("documents written", truth.clusters, spark.read.schema(schema).json(out.toString).count())
      ctx.counters("io.bytes_written") += Fs.treeBytes(out)
      ctx.counters("io.bytes_read") += Fs.treeBytes(in)
    }
  }

  /** Candidate volume of the band join, from the public bucket report:
    * pairs within each joinable bucket plus one per star-degraded member. */
  override def traceCounters(): Map[String, Double] = {
    val docs = Jsonl.fromJsonl(spark, in.resolve("corpus").toString, schema)
    val r = Dedup.minHashBucketStats(docs).agg(
      sum(when(col("status").isin("ok", "kept"), col("n") * (col("n") - 1) / 2)
        .when(col("status") === "star", col("n") - 1).otherwise(lit(0L))).cast("long")).head()
    val candidates = r.getLong(0).toDouble
    Map("llm.candidate_pairs" -> candidates, "llm.verified_pairs" -> truth.pairs.toDouble,
      "llm.pair_yield" -> (if (candidates > 0) truth.pairs / candidates else 0.0))
  }
}
