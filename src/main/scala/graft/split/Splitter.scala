package graft.split

import graft.model.GraftDataset
import graft.operators.Grouper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Constrained randomized splitting — reference `simple_split` / `split`
  * (lours/dataset/dataset.py:4257-4681; split/dataset_splitter.py,
  * split/disjoint_groups.py, split/balanced_groups.py).
  *
  * Three layers:
  *  1. [[simpleSplit]] — seeded random assignment honoring pre-assigned rows
  *     with residual-share renormalization. Randomness is
  *     `xxhash64(id, seed)`-derived, so results are invariant to
  *     partitioning/parallelism (unlike `rand(seed)`).
  *  2. [[makeAtomicChunks]] — connected components over rows linked by any
  *     shared keep-separate value (disjoint_groups.py:41-132), as iterative
  *     min-label propagation joins (the standard Spark CC idiom). The number
  *     of iterations is the component graph diameter (tiny in practice).
  *  3. [[split]] — balanced constrained split: resolve balance groups,
  *     atomize, collect per-atom histograms (atoms ≪ rows by construction),
  *     run the inherently-sequential greedy cost loop on the driver
  *     (dataset_splitter.py:21-129), broadcast the atom→split map back.
  *
  * Deviation from the reference (documented): atom iteration order is
  * seeded-hash order, not Python `random.shuffle` — bit-compatibility of the
  * exact assignment is not promised, the invariants (separation, balance,
  * share targets, pre-assignment) are.
  */
object Splitter {

  /** Partitioning-invariant uniform in [0,1) from a row id and seed. */
  private def uniform(id: Column, seed: Long): Column =
    (pmod(xxhash64(id, lit(seed)), lit(1000000007L)).cast("double") / 1000000007.0)

  /** Random split of images honoring already-assigned rows
    * (simple_split, dataset_splitter.py:154-233): residual shares are the
    * target counts minus existing counts (clamped at 0), renormalized over
    * the unassigned rows; assignment by cumulative-threshold lookup. */
  def simpleSplit(ds: GraftDataset, seed: Long,
      names: Seq[String] = Seq("train", "valid"),
      shares: Seq[Double] = Seq(0.8, 0.2)): GraftDataset = {
    require(names.length == shares.length && math.abs(shares.sum - 1.0) < 1e-9,
      "shares must match names and sum to 1")
    // one probe: per-split counts, the null group being the unassigned rows
    val counts = ds.images.groupBy("split").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val unassigned = counts.getOrElse(None, 0L)
    val existing = counts.collect { case (Some(n), c) => n -> c }
    val residual = names.zip(shares).map { case (n, s) =>
      n -> math.max(0.0, s * total - existing.getOrElse(n, 0L).toDouble)
    }
    val resSum = residual.map(_._2).sum
    val normalized =
      if (resSum <= 0 || unassigned == 0) names.map(_ -> 0.0)
      else residual.map { case (n, r) => n -> r / resSum }
    // cumulative thresholds over [0,1)
    val cum = normalized.scanLeft(("", 0.0)) { case ((_, acc), (n, s)) => (n, acc + s) }.tail
    val u = uniform(col("id"), seed)
    val assigned = cum.foldLeft(when(col("split").isNotNull, col("split"))) {
      case (acc, (n, hi)) => acc.when(u < hi, lit(n))
    }.otherwise(lit(names.last))
    val images = ds.images.withColumn("split", assigned)
    ds.copy(images = images).withSplitPropagated
  }

  /** Connected-component atomizer (make_atomic_chunks,
    * disjoint_groups.py:41-132): adds an `__atom` column such that any two
    * rows sharing a value in ANY of `keyCols` get the same atom id.
    * Iterative min-label propagation: label ← min(label) over each key
    * column, repeated to fixpoint. */
  def makeAtomicChunks(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one keep-separate column")
    if (keyCols.size == 1) {
      // single key: components ARE the key groups — one windowless pass
      // (min id per key), no iteration needed
      val k = keyCols.head
      val minPerKey = df.groupBy(col(s"`$k`").as("__k"))
        .agg(min(col("id").cast("long")).as("__atom_min"))
      return df.join(minPerKey, df(s"`$k`") === col("__k"), "left")
        .withColumn("__atom", coalesce(col("__atom_min"), col("id").cast("long")))
        .drop("__k", "__atom_min")
    }
    // Convergence detection rides the contraction table, not a separate
    // aggregate: labels only ever DECREASE, so a row changing in the
    // propagation passes is exactly a (prev label → smaller new label)
    // edge in `parents` — a round is the identity iff `parents` is empty.
    // That drops the old per-round label-sum job AND lets the final round
    // skip the apply-join entirely. Sums (for the jump loop) stay
    // DECIMAL(38): hash-derived ids span the full signed-64-bit range and
    // a Long sum would overflow and break the comparison.
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def atomSum(d: DataFrame, c: String): java.math.BigDecimal =
      d.agg(sum(col(c).cast(dec))).collect()(0).getDecimal(0)

    var cur = df.withColumn("__atom", col("id").cast("long"))
    var converged = false
    var iters = 0
    var prevCached: DataFrame = null
    while (!converged && iters < 50) {
      // one min-label pass per key column (full-row shuffles)
      var next = cur.withColumn("__atom_prev", col("__atom"))
      for (k <- keyCols) {
        val minPerKey = next.groupBy(col(s"`$k`").as("__k"))
          .agg(min("__atom").as("__atom_min"))
        next = next.join(minPerKey, next(s"`$k`") === col("__k"), "left")
          .withColumn("__atom2",
            when(col("__atom_min") < col("__atom"), col("__atom_min"))
              .otherwise(col("__atom")))
          .drop("__k", "__atom_min")
          .withColumn("__atom", col("__atom2")).drop("__atom2")
      }
      // cache the propagated frame: it is materialized twice per round
      // (the parents aggregate below, then `applied`) — without this the
      // K-join propagation pipeline recomputes for each action
      next = next.cache()
      // label-graph contraction: this pass's merges form `old label → new
      // label` edges; pointer-jump that (much smaller) parent table to its
      // roots so a chain of D pairwise merges collapses in O(log D) small
      // self-joins rather than D more full-row passes. Without this, a
      // high-diameter component (e.g. a 1000-link chain of shared key
      // values) would exhaust any iteration cap and silently leak across
      // atoms. Every new label is a min of old labels, so parent values
      // are themselves labels and the inner join below is total.
      // localCheckpoint (NOT cache) per jump: the self-join nests the
      // previous parents plan twice, so without lineage truncation the
      // logical plan grows 2^jumps and OOMs the driver. The jump loop's
      // checkpoints are LAZY — the convergence sum right after is the
      // action that materializes them, fusing two jobs per jump into one.
      var parents = next
        .groupBy(col("__atom_prev").as("label")).agg(min("__atom").as("parent"))
        .filter(col("label") =!= col("parent")).localCheckpoint()
      var pSum = atomSum(parents, "parent")
      if (pSum == null) {
        // no label moved: `cur` is already the fixpoint, skip jump + apply
        converged = true
        next.unpersist()
      } else {
        var jumps = 0
        while (pSum != null && jumps < 64) {
          val jumped = parents.as("a")
            .join(parents.as("b"), col("a.parent") === col("b.label"), "left")
            .select(col("a.label").as("label"),
              coalesce(col("b.parent"), col("a.parent")).as("parent"))
            .localCheckpoint(eager = false)
          val s = atomSum(jumped, "parent")
          val stable = s == null || s.compareTo(pSum) == 0
          parents = jumped
          pSum = s
          jumps += 1
          if (stable) jumps = 64
        }
        val applied0 = next
          .join(parents.select(col("label").as("__atom"), col("parent").as("__root")),
            Seq("__atom"), "left")
          .withColumn("__atom", coalesce(col("__root"), col("__atom")))
          .drop("__root", "__atom_prev")
        // localCheckpoint EVERY round (not cache): truncating lineage keeps
        // plan depth flat over long convergence runs, and — unlike a cached
        // round layered on an earlier checkpoint — leaves no frame whose
        // only recompute path runs through blocks a later unpersist deletes
        val applied = applied0.localCheckpoint()
        next.unpersist()
        if (prevCached != null) prevCached.unpersist()
        prevCached = applied
        cur = applied
      }
      iters += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"makeAtomicChunks: no fixpoint after $iters rounds — returning " +
          "partial atoms would leak rows across keep-separate components")
    cur
  }

  /** Balanced constrained split of the images table.
    *
    * @param keepSeparate   image columns whose equal values must land in the
    *                       same split (atomized via connected components)
    * @param keepBalanced   group specs (over annotations, root = images)
    *                       whose histograms should match the global
    *                       distribution in every split
    * @param maxAtoms       loud scale guard: the greedy assigner (reference
    *                       get_winner semantics) is inherently sequential
    *                       over atoms on the driver. With keep-separate
    *                       columns, atoms ≪ images by construction; with
    *                       `keepSeparate = Nil` every image is its OWN atom,
    *                       so a 100× caller would otherwise collect one row
    *                       per image and OOM the driver silently. Over the
    *                       cap the split throws with the count instead.
    */
  def split(ds: GraftDataset, seed: Long,
      names: Seq[String] = Seq("train", "valid"),
      shares: Seq[Double] = Seq(0.8, 0.2),
      keepSeparate: Seq[String] = Nil,
      keepBalanced: Seq[Grouper.GroupSpec] = Nil,
      histCostWeight: Double = 1.0,
      shareCostWeight: Double = 1.0,
      maxAtoms: Int = 1000000): GraftDataset = {
    if (keepSeparate.isEmpty && keepBalanced.isEmpty)
      return simpleSplit(ds, seed, names, shares)

    // 1. atoms over images (single atom per image when no keep-separate)
    val atomized =
      if (keepSeparate.nonEmpty) makeAtomicChunks(ds.images, keepSeparate)
      else ds.images.withColumn("__atom", col("id").cast("long"))

    // 2. per-atom sizes, pre-assignments, and balance histograms.
    // limit(maxAtoms + 1) bounds the driver transfer BEFORE the guard
    // check, so an over-cap dataset fails fast instead of OOMing first.
    val atomInfoRows = atomized.groupBy("__atom").agg(
      count(lit(1)).as("__size"),
      collect_set(col("split")).as("__splits"))
      .limit(maxAtoms + 1).collect()
    if (atomInfoRows.length > maxAtoms)
      throw new IllegalArgumentException(
        s"Splitter.split: more than $maxAtoms atoms — the greedy balanced " +
          "assigner is sequential over atoms on the driver and cannot scale " +
          "past the cap. Group images with keepSeparate columns (atoms ≪ " +
          "images), use simpleSplit for unconstrained splits, or raise " +
          "maxAtoms if the driver can hold it.")
    val atomInfo = atomInfoRows
      .map { r =>
        val pre = r.getSeq[String](2).filter(_ != null)
        // conflicting pre-assignments demote the atom to unassigned
        // (disjoint_groups.py conflict policy)
        (r.getLong(0), r.getLong(1), if (pre.size == 1) Some(pre.head) else None)
      }

    val (histsByAtom: Map[Long, Array[Double]], nBins: Int, binKinds: Array[Boolean]) =
      if (keepBalanced.isEmpty) (Map.empty[Long, Array[Double]], 0, Array.empty[Boolean])
      else {
        val resolved = Grouper.resolveGroups(
          ds.copy(images = atomized), keepBalanced)
        val groupCols = keepBalanced.map(g => s"__group_${g.name}")
        // bind atom to each annotation through the image FK
        val withAtom = resolved.join(
          GraftDataset.broadcastIfSmall(
            atomized.select(col("id").as("__img_id"), col("__atom"))),
          col("image_id") === col("__img_id"))
        val binDf = withAtom.groupBy((col("__atom") +: groupCols.map(c => col(s"`$c`"))): _*)
          .count()
        val rows = binDf.collect()
        // global bin vocabulary: one slot per distinct group-value tuple
        val keys = rows.map(r => (1 to keepBalanced.length).map(i => String.valueOf(r.get(i))).mkString("\u0001")) // non-printable separator: tuples must not collapse
        // EMD requires a NUMERIC bin order and only makes sense over one
        // continuous dimension; the flattened tuple space (or any
        // categorical dimension) uses KL over an arbitrary-but-fixed order.
        val singleContinuous = keepBalanced.sizeIs == 1 &&
          keepBalanced.head.isInstanceOf[Grouper.ContinuousGroup]
        val vocab =
          if (singleContinuous)
            keys.distinct.sortBy(k => scala.util.Try(k.toDouble).getOrElse(
              // IntervalLabel strings "(lo, hi]" sort by their lower bound
              scala.util.Try(k.stripPrefix("(").takeWhile(_ != ',').toDouble)
                .getOrElse(Double.MaxValue)))
          else keys.distinct.sorted
        val slot = vocab.zipWithIndex.toMap
        val m = scala.collection.mutable.Map[Long, Array[Double]]()
        rows.zip(keys).foreach { case (r, k) =>
          val arr = m.getOrElseUpdate(r.getLong(0), Array.fill(vocab.length)(0.0))
          arr(slot(k)) += r.getLong(keepBalanced.length + 1).toDouble
        }
        val kinds = Array.fill(vocab.length)(singleContinuous)
        (m.toMap, vocab.length, kinds)
      }

    // 3. driver-side greedy assignment (get_winner, dataset_splitter.py:21-129)
    val targetShares = names.zip(shares).toMap
    val splitSizes = scala.collection.mutable.Map(names.map(_ -> 0.0): _*)
    val splitHists = scala.collection.mutable.Map(
      names.map(_ -> Array.fill(nBins)(0.0)): _*)
    val globalHist: Array[Double] =
      if (nBins == 0) Array.empty
      else histsByAtom.values.foldLeft(Array.fill(nBins)(0.0)) { (a, b) =>
        var i = 0; while (i < nBins) { a(i) += b(i); i += 1 }; a
      }
    val useEmd = binKinds.nonEmpty && binKinds.head

    def histCost(h: Array[Double]): Double =
      if (nBins == 0) 0.0
      else if (useEmd) Costs.emd1d(Costs.normalize(globalHist), Costs.normalize(h))
      else Costs.klDivergence(Costs.normalize(globalHist), Costs.normalize(h))

    val assignment = scala.collection.mutable.Map[Long, String]()
    // pre-assigned atoms first, seeding sizes + hists
    val (preAssigned, free) = atomInfo.partition(_._3.exists(names.contains))
    preAssigned.foreach { case (atom, size, pre) =>
      val s = pre.get
      assignment(atom) = s
      splitSizes(s) += size
      histsByAtom.get(atom).foreach { h =>
        val t = splitHists(s); var i = 0; while (i < nBins) { t(i) += h(i); i += 1 }
      }
    }
    // deterministic seeded order (documented deviation from random.shuffle)
    val ordered = free.sortBy { case (atom, _, _) =>
      java.lang.Long.rotateLeft(atom * 0x9E3779B97F4A7C15L + seed, 31)
    }
    ordered.foreach { case (atom, size, _) =>
      val cand = histsByAtom.getOrElse(atom, Array.fill(nBins)(0.0))
      // per-candidate consolidated costs (get_winner): infinite hist costs
      // stay infinite UNLESS every candidate is infinite, in which case the
      // decision falls back to share cost alone (dataset_splitter.py:108-114)
      val costs = names.map { s =>
        val hCost =
          if (nBins == 0) 0.0
          else names.map { s2 =>
            if (s2 == s) {
              val merged = splitHists(s2).clone()
              var i = 0; while (i < nBins) { merged(i) += cand(i); i += 1 }
              histCost(merged)
            } else histCost(splitHists(s2))
          }.sum
        val newSizes = names.map(n =>
          splitSizes(n) + (if (n == s) size.toDouble else 0.0))
        val shCost = Costs.shareDistance(
          Costs.normalize(newSizes.toArray),
          names.map(targetShares).toArray)
        s -> (hCost, shCost)
      }
      val allInfinite = costs.forall(_._2._1.isInfinite)
      val best = costs.minBy { case (_, (hCost, shCost)) =>
        if (allInfinite) shareCostWeight * shCost
        else histCostWeight * hCost + shareCostWeight * shCost
      }._1
      assignment(atom) = best
      splitSizes(best) += size
      val t = splitHists(best)
      var i = 0; while (i < nBins) { t(i) += cand(i); i += 1 }
    }

    // 4. broadcast the atom→split map back
    val spark = ds.spark
    import spark.implicits._
    val mapDf = broadcast(assignment.toSeq.toDF("__atom", "__new_split"))
    val images = atomized.join(mapDf, Seq("__atom"), "left")
      .withColumn("split", coalesce(col("__new_split"), col("split")))
      .drop("__atom", "__new_split")
    ds.copy(images = images).withSplitPropagated
  }
}

/** Histogram / share cost kernels (balanced_groups.py:120-344), driver-side:
  * histograms are tiny (bins ≤ ~100s). */
object Costs {

  def normalize(h: Array[Double]): Array[Double] = {
    val s = h.sum
    if (s <= 0) h.map(_ => 0.0) else h.map(_ / s)
  }

  /** KL(p ‖ q) = Σ p·ln(p/q); p=0 terms vanish, q=0 with p>0 → ∞
    * (scipy.stats.entropy semantics). */
  def klDivergence(p: Array[Double], q: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < p.length) {
      if (p(i) > 0) {
        if (q(i) <= 0) return Double.PositiveInfinity
        s += p(i) * math.log(p(i) / q(i))
      }
      i += 1
    }
    s
  }

  /** 1-D Earth Mover's Distance with unit (cityblock) ground metric over
    * ordered bins: Σ |cumsum(p) − cumsum(q)| (the closed form of the
    * transportation problem in 1-D). */
  def emd1d(p: Array[Double], q: Array[Double]): Double = {
    var s = 0.0
    var cp = 0.0
    var cq = 0.0
    var i = 0
    while (i < p.length) {
      cp += p(i); cq += q(i)
      s += math.abs(cp - cq)
      i += 1
    }
    s
  }

  /** 1 − IoU of two share vectors (dataset_share_distance,
    * balanced_groups.py:320-344). */
  def shareDistance(shares: Array[Double], target: Array[Double]): Double = {
    var mins = 0.0
    var maxs = 0.0
    var i = 0
    while (i < shares.length) {
      mins += math.min(shares(i), target(i))
      maxs += math.max(shares(i), target(i))
      i += 1
    }
    if (maxs <= 0) 0.0 else 1.0 - mins / maxs
  }
}
