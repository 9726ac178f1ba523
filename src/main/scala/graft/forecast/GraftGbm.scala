package graft.forecast

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Native histogram gradient-boosted trees — the LightGBM-class model the
  * reference reaches for first (its headline M4 numbers train LightGBM:
  * /root/reference/tests/test_m4.py:16-55, and its Spark branch wraps
  * SynapseML LightGBM: /root/reference/mlforecast/distributed/models/spark/
  * lgb.py:25-33). No JVM LightGBM binding resolves offline, so this is the
  * algorithm itself (Ke et al. 2017, "LightGBM: A Highly Efficient Gradient
  * Boosting Decision Tree"), built Spark-first:
  *
  *   - **Histogram split finding**: features are pre-binned ONCE into at
  *     most `maxBins` quantile bins (edges from a bounded driver sample, the
  *     `bin_construct_sample_cnt` stance) and every training pass aggregates
  *     fixed-size (grad, hess, count) histograms — never raw feature values.
  *   - **Best-first growth under a leaf budget**: each level aggregates
  *     histograms for ALL open nodes in one distributed pass (cost per tree
  *     = maxDepth passes, the data-parallel GBDT cost model), then accepts
  *     splits in gain order while the tree stays under `numLeaves` — the
  *     leaf-wise-under-budget shape of LightGBM at depth-wise pass cost.
  *   - **Missing-direction learning**: bin 0 is reserved for null/NaN and
  *     each split routes it to whichever side gains more (LightGBM's
  *     `zero_as_missing=false` default-direction learning).
  *   - **L2 leaf shrinkage**: leaf value = −G/(H+λ) · learningRate; loss is
  *     (optionally weighted) squared error, so grad = w·(score−y), hess = w.
  *
  * Scale shape: the binned training set (one byte-ish short per feature) is
  * localCheckpoint-pinned and re-scored in place each round (one narrow map;
  * lineage re-cut every `checkpointEvery` rounds). Histogram aggregation is
  * a FIXED-TOPOLOGY ordered reduction ([[GraftGbm.reduceOrdered]]): partials
  * merge in ascending-partition order within groups of `fanIn` per level,
  * O(log P) depth, so the driver receives at most `fanIn` partials no matter
  * how many partitions the cluster runs — never the O(P) collect that would
  * cap out a 10^4-partition job — and the IEEE sum order is a function of
  * the partition index alone, so training is deterministic on a fixed
  * layout (ties in gain break by lowest feature then bin). Open nodes are
  * histogrammed at most [[GraftGbm.MaxOpenPerPass]] per pass, bounding every
  * partial (and the driver) at MaxOpenPerPass·nFeat·maxBins·3 doubles
  * regardless of `numLeaves` (the tuning space allows 4096 leaves; an
  * unchunked level pass there would ship GBs). Nothing about the corpus
  * rides the driver except the capped bin sample and those bounded partials.
  *
  * Small-data fast path: when the binned training set fits under
  * `driverFitMaxRows` (and [[GraftGbm.LocalFitMaxCells]] row·feature cells),
  * the rows are collected once per-partition and the whole boosting loop
  * runs in-process through [[GraftGbm.LocalBinned]] — the same per-partition
  * accumulation order and the same [[GraftGbm.reduceOrderedLocal]] merge
  * topology, so the trained trees are BIT-IDENTICAL to the distributed
  * path's while a 20-round fit costs ~3 Spark actions instead of ~100 jobs
  * (LightGBM itself is a single-process trainer at this scale; same shape
  * as the driver-local BPE merge loop in operators/Bpe.scala). Above the
  * cap nothing is collected — the distributed path is unchanged.
  */
final case class GraftGbm(name: String = "ggbm",
                          numRounds: Int = 100,
                          numLeaves: Int = 31,
                          maxDepth: Int = 6,
                          learningRate: Double = 0.1,
                          lambdaL2: Double = 1.0,
                          lambdaL1: Double = 0.0,
                          /** "l2" (squared error), "l1" (absolute error:
                            * sign gradients + per-leaf weighted-MEDIAN
                            * renewal, LightGBM RenewTreeOutput), or
                            * "quantile" (pinball loss at `alpha`: asymmetric
                            * sign gradients + per-leaf weighted α-QUANTILE
                            * renewal — direct quantile forecasts).
                            */
                          objective: String = "l2",
                          /** Quantile level for objective = "quantile". */
                          alpha: Double = 0.5,
                          /** Fraction of features each TREE may split on
                            * (deterministic seeded subset; LightGBM
                            * feature_fraction).
                            */
                          featureFraction: Double = 1.0,
                          /** Fraction of rows each tree trains on, resampled
                            * every `baggingFreq` trees (LightGBM
                            * bagging_fraction/bagging_freq; deterministic
                            * per-row tags, no RNG state).
                            */
                          baggingFraction: Double = 1.0,
                          baggingFreq: Int = 1,
                          /** > 0 enables early stopping: `validFraction` of
                            * rows (deterministic tag split) are held out of
                            * training and boosting stops after this many
                            * rounds without valid-loss improvement; the model
                            * keeps the best iteration's trees.
                            */
                          earlyStoppingRounds: Int = 0,
                          validFraction: Double = 0.1,
                          minDataInLeaf: Int = 20,
                          minGain: Double = 0.0,
                          maxBins: Int = 63,
                          binSampleRows: Int = 100000,
                          checkpointEvery: Int = 10,
                          /** The fit runs driver-local when the binned
                            * training set has at most this many rows (and at
                            * most [[GraftGbm.LocalFitMaxCells]] row·feature
                            * cells): the binned rows are collected ONCE,
                            * per-partition, and every boosting pass runs
                            * in-process replaying the exact per-partition
                            * accumulation order and fixed-topology merge of
                            * the distributed path — bit-identical trees from
                            * ~3 Spark actions instead of ~4·numRounds jobs
                            * (LightGBM itself is a single-process trainer at
                            * this scale; the same shape as the driver-local
                            * BPE merge loop). Above the cap nothing is
                            * collected and every pass stays a distributed
                            * histogram job — the 100 TB path. 0 disables the
                            * local path entirely (specs use this to pin the
                            * distributed machinery). Driver heap: rows are
                            * collected COLUMNAR (flat primitive arrays,
                            * ≈2·nf+32 B each — ≈460 MB at the 8 M × 13
                            * default worst case, no per-row objects); the
                            * byte gate [[GraftGbm.localFitMaxBytes]]
                            * (maxHeap/4, ≤1 GB) routes to the distributed
                            * path when the driver can't afford it — the
                            * rows/cells caps are structural ceilings, the
                            * byte gate is the governing bound.
                            */
                          driverFitMaxRows: Long = 8000000L,
                          seed: Long = 0L) extends ForecastModel {
  require(numRounds >= 1 && numLeaves >= 2 && maxDepth >= 1 &&
    learningRate > 0 && lambdaL2 >= 0 && lambdaL1 >= 0 && minDataInLeaf >= 1 &&
    maxBins >= 2 && maxBins <= 255 && binSampleRows >= maxBins &&
    checkpointEvery >= 1, s"bad GraftGbm params: $this")
  require(objective == "l2" || objective == "l1" || objective == "quantile",
    s"objective must be l2, l1 or quantile, got $objective")
  require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
  require(featureFraction > 0 && featureFraction <= 1, s"bad featureFraction")
  require(baggingFraction > 0 && baggingFraction <= 1 && baggingFreq >= 1,
    s"bad bagging config")
  require(earlyStoppingRounds >= 0 &&
    (earlyStoppingRounds == 0 || (validFraction > 0 && validFraction < 1)),
    s"early stopping needs validFraction in (0,1)")
  require(driverFitMaxRows >= 0, s"bad driverFitMaxRows $driverFitMaxRows")

  def fit(train: DataFrame, featureCols: Seq[String], labelCol: String,
          weightCol: Option[String]): TrainedModel = {
    require(featureCols.nonEmpty, "GraftGbm needs at least one feature")
    val spark = train.sparkSession
    val feats = featureCols.toArray
    val label = col(s"`$labelCol`").cast("double")
    val w = weightCol.map(c => col(s"`$c`").cast("double")).getOrElse(lit(1.0))
    // NaN marks missing — the featurizer emits null for unavailable lags
    val cols = feats.map(c => coalesce(col(s"`$c`").cast("double"), lit(Double.NaN))) :+
      label :+ w
    val rows0 = train.filter(label.isNotNull && w.isNotNull)
      .select(array(cols.toIndexedSeq: _*).as("__r"))

    // ---- bin edges from a bounded UNIFORM sample: rows taken in md5-hash
    // order of (content, row position) (TakeOrderedAndProject —
    // per-partition heaps, one pass, never a full sort). A bare limit()
    // would pull whole partitions off the front of the (id,ds)-sorted
    // panel and over-represent the first series — biased quantile edges on
    // heterogeneous panels (LightGBM's bin_construct_sample_cnt samples
    // uniformly). The position salt matters on duplicate-heavy panels
    // (intermittent demand: millions of identical all-zero rows): a
    // content-only hash would give every copy ONE key and make the whole
    // block enter or miss the capped sample together, collapsing the
    // edges. Deterministic on a fixed layout (the id is a pure function of
    // partition and position); when the cap doesn't bind the sample is the
    // full frame and edges are fully layout-independent.
    val sample = rows0
      .withColumn("__sh", graft.operators.Corpus.md560Col(
        concat(col("__r").cast("string"), lit(":"),
          monotonically_increasing_id().cast("string"))))
      .orderBy(col("__sh")).limit(binSampleRows)
      .select(col("__r")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "GraftGbm: empty training frame after dropna")
    val nf = feats.length
    val edges: Array[Array[Double]] = Array.tabulate(nf) { f =>
      val vals = sample.iterator.map(_(f)).filter(v => !v.isNaN).toArray
      java.util.Arrays.sort(vals)
      if (vals.isEmpty) Array.empty[Double]
      else {
        val distinct = new scala.collection.mutable.ArrayBuffer[Double]()
        var i = 0
        while (i < vals.length) {
          if (distinct.isEmpty || vals(i) != distinct.last) distinct += vals(i)
          i += 1
        }
        if (distinct.length <= maxBins) distinct.dropRight(1).toArray // upper edge per bin; last bin open
        else {
          // quantile edges over the sorted sample (left-closed bins)
          val out = new scala.collection.mutable.ArrayBuffer[Double]()
          var b = 1
          while (b < maxBins) {
            val q = vals(((vals.length.toLong * b) / maxBins).toInt.min(vals.length - 1))
            if (out.isEmpty || q != out.last) out += q
            b += 1
          }
          out.toArray
        }
      }
    }
    val nBins = edges.map(_.length + 2) // bin 0 = missing; 1..len+1 = value bins
    val maxNodeBins = nBins.max

    // ---- pre-bin: one compiled pass; the binned set is the training state.
    // Each row gets a deterministic 64-bit tag (partition, index, seed) that
    // drives the valid split and per-tree bagging with no RNG state.
    val edgesB = GraftGbm.bcastAudited(spark.sparkContext, edges)
    val seedL = seed
    val nfL0 = nf
    // Columnar blocks per partition, rows in partition order (see
    // BinnedBlock doc: flat primitive storage, bit-identical fold order).
    // Blocks are CELL-BOUNDED (BlockMaxCells): one block per partition
    // would impose an n·nf <= Int.MaxValue ceiling on the distributed path
    // (~165 M rows/partition at 13 features — a crash where the per-row
    // form streamed) and materialize the whole partition twice during
    // packing. Emitting bounded sub-blocks keeps packing memory flat;
    // DistBinned.pass already folds multiple blocks per partition in
    // iterator order, and block boundaries are a pure function of row
    // position, so results stay deterministic on a fixed layout.
    // resolve the cells cap ON THE DRIVER and capture the value: reading
    // the system property inside the task closure would ignore a
    // driver-set -D on a real cluster, and heterogeneous executor flags
    // would split blocks at different boundaries (different FP merge
    // association across environments)
    val rowsPerBlockL =
      math.max(1, (GraftGbm.BlockMaxCells / math.max(nf, 1)).toInt)
    val binned0: RDD[GraftGbm.BinnedBlock] = rows0.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rowsPerBlock = rowsPerBlockL
      var idx = 0L
      // streaming chunker, NOT Iterator.grouped: grouped buffers a whole
      // chunk of Row OBJECTS (~hundreds of MB per task at the cells cap)
      // before packing; this packs each row into the primitive arrays as
      // it streams, so per-task transient memory is one block's primitives
      new Iterator[GraftGbm.BinnedBlock] {
        def hasNext: Boolean = it.hasNext
        def next(): GraftGbm.BinnedBlock = {
          val binsB = new scala.collection.mutable.ArrayBuilder.ofShort
          val ysB = new scala.collection.mutable.ArrayBuilder.ofDouble
          val wsB = new scala.collection.mutable.ArrayBuilder.ofDouble
          val tagsB = new scala.collection.mutable.ArrayBuilder.ofLong
          var n = 0
          while (n < rowsPerBlock && it.hasNext) {
            val a = it.next().getSeq[Double](0)
            var f = 0
            while (f < nfL0) {
              binsB += GraftGbm.binOf(a(f), edgesB.value(f)).toShort
              f += 1
            }
            ysB += a(nfL0); wsB += a(nfL0 + 1)
            tagsB += GraftGbm.mix64(seedL ^ (pid.toLong << 40) ^ idx)
            idx += 1; n += 1
          }
          new GraftGbm.BinnedBlock(n, nfL0, binsB.result(),
            ysB.result(), wsB.result(), new Array[Double](n), tagsB.result())
        }
      }
    }
    val binnedPinned = binned0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val validPermyriad =
      if (earlyStoppingRounds > 0) (validFraction * 10000).toInt else 0

    // base score per objective (LightGBM boost_from_average): l2 starts at
    // the weighted mean TRAINING label (valid rows held out), l1 at the
    // weighted MEDIAN, quantile at the weighted α-quantile — a mean start
    // biases sign-gradient objectives and slows small-round fits. Medians
    // ride the same bounded 256-bin histogram machinery as leaf renewal
    // (≤ range/256 discretization; boosting corrects the remainder). All
    // passes reduce in fixed partition order (deterministic).
    val vp0 = validPermyriad
    val nParts0 = binnedPinned.getNumPartitions
    // one pass carries the weighted mean, the label range AND the total row
    // count, so the l1/quantile base score needs only the histogram pass on
    // top and the local-vs-distributed routing costs no extra count job
    val (sumY, sumW, minY, maxY, nAll) = GraftGbm.reduceOrdered(
      binnedPinned.mapPartitionsWithIndex { (pid, it) =>
        var sy = 0.0; var sw = 0.0; var n = 0L
        var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
        it.foreach { blk =>
          var i = 0
          while (i < blk.n) {
            n += 1
            if (!GraftGbm.inValid(blk.tags(i), vp0)) {
              val y = blk.ys(i)
              sy += blk.ws(i) * y; sw += blk.ws(i)
              if (y < mn) mn = y
              if (y > mx) mx = y
            }
            i += 1
          }
        }
        Iterator((pid, (sy, sw, mn, mx, n)))
      }, nParts0,
      (a: (Double, Double, Double, Double, Long), b: (Double, Double, Double, Double, Long)) =>
        (a._1 + b._1, a._2 + b._2, math.min(a._3, b._3), math.max(a._4, b._4),
          a._5 + b._5))
    require(sumW > 0, "GraftGbm: zero total weight (or the valid split ate every row)")
    // under the caps: collect the binned rows ONCE (per-partition, order
    // preserved) and run every later pass in-process — bit-identical by the
    // shared accumulation order and merge topology (see class doc)
    val useLocal = driverFitMaxRows > 0 && nAll <= driverFitMaxRows &&
      nAll * nf <= GraftGbm.LocalFitMaxCells &&
      nAll * GraftGbm.localRowBytes(nf) <= GraftGbm.localFitMaxBytes
    val set0: GraftGbm.BinnedSet =
      if (useLocal) {
        // collect the columnar blocks directly — flat primitive arrays move
        // as bulk buffers through the serializer, nothing is rebuilt, and
        // the local fold replays the identical per-partition row order. In
        // local mode collect can hand back the CACHED block objects; the
        // local set then mutates only their score arrays, which is safe
        // because binnedPinned is unpersisted right below and never re-read.
        val parts = binnedPinned
          .mapPartitionsWithIndex((pid, it) => Iterator.single((pid, it.toArray)))
          .collect().sortBy(_._1).map(_._2)
        new GraftGbm.LocalBinned(parts)
      } else new GraftGbm.DistBinned(binnedPinned)
    val baseScore = GraftGbm.objCodeOf(objective) match {
      case 0 => sumY / sumW
      case 1 => GraftGbm.weightedLabelQuantile(set0, validPermyriad,
        0.5, minY, maxY)
      case _ => GraftGbm.weightedLabelQuantile(set0, validPermyriad,
        alpha, minY, maxY)
    }
    var data = set0.withBase(baseScore)
    binnedPinned.unpersist(false)

    val trees = new scala.collection.mutable.ArrayBuffer[Array[GraftGbm.Node]]()
    var round = 0
    var bestValidLoss = Double.PositiveInfinity
    var bestRound = -1
    var stop = false
    // objective code rides task closures as primitives: 0=l2, 1=l1, 2=quantile
    val objCode = GraftGbm.objCodeOf(objective)
    val alphaL = alpha
    val gainPerRound = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    // Trees newer than `data`'s materialized scores, oldest first. Passes
    // evaluate score + Σ pending walks lazily (identical left-fold FP order
    // to per-round materialization), and scores fold into the rows only at
    // checkpoint boundaries — one job per `checkpointEvery` rounds instead
    // of one per round. The driver-local path folds EVERY round (an
    // in-place array walk costs ~nothing without a Spark job behind it, and
    // it saves each later pass re-walking up to checkpointEvery pending
    // trees per row); by the left-fold identity above the results are
    // bit-identical either way.
    val ckptEvery = if (useLocal) 1 else checkpointEvery
    var pending: Array[Array[GraftGbm.Node]] = Array.empty
    while (round < numRounds && !stop) {
      val roundGain = new Array[Double](nf)
      val tree = growTree(data, nf, nBins, maxNodeBins, round, validPermyriad,
        roundGain, pending)
      trees += tree
      gainPerRound += roundGain
      pending :+= tree
      if ((round + 1) % ckptEvery == 0 || round == numRounds - 1) {
        data = data.rescore(pending)
        pending = Array.empty
      }
      if (earlyStoppingRounds > 0) {
        // held-out loss at the current iteration (partition-ordered sums);
        // `pending` is empty right after a checkpoint fold
        val vp = validPermyriad; val oc = objCode; val al = alphaL
        val (vs, vw) = data.pass(pending) { (pend, blk) =>
          var s = 0.0; var w = 0.0
          var i = 0
          while (i < blk.n) {
            if (GraftGbm.inValid(blk.tags(i), vp)) {
              val e = GraftGbm.scoreWithPendingAt(blk, i, pend) - blk.ys(i)
              s += blk.ws(i) * GraftGbm.pointLoss(e, oc, al); w += blk.ws(i)
            }
            i += 1
          }
          (s, w)
        }(GraftGbm.addPair)
        val vloss = if (vw > 0) vs / vw else Double.PositiveInfinity
        if (vloss < bestValidLoss - 1e-12) { bestValidLoss = vloss; bestRound = round }
        else if (round - bestRound >= earlyStoppingRounds) stop = true
      }
      round += 1
    }
    data.dispose()
    // keep the best iteration's trees (LightGBM best_iteration semantics)
    if (earlyStoppingRounds > 0 && bestRound >= 0 && bestRound + 1 < trees.length)
      trees.remove(bestRound + 1, trees.length - bestRound - 1)

    // binned thresholds → real-valued thresholds for raw-feature scoring
    val scoringTrees = trees.map(_.map { n =>
      if (n.isLeaf) n
      else n.copy(threshold = edges(n.feature)(n.binThreshold - 1))
    }.toArray).toArray
    // gain importance over the KEPT trees only (early stop may truncate)
    val importance = new Array[Double](nf)
    gainPerRound.take(trees.length).foreach { g =>
      var f = 0
      while (f < nf) { importance(f) += g(f); f += 1 }
    }
    new GraftGbmTrained(scoringTrees, baseScore, learningRate, feats, importance)
  }

  /** One tree: level-order distributed histogram passes; best-first split
    * acceptance under the leaf budget on the driver.
    */
  private def growTree(data: GraftGbm.BinnedSet, nf: Int,
                       nBins: Array[Int], maxNodeBins: Int, round: Int,
                       validPermyriad: Int, gainOut: Array[Double],
                       pending: Array[Array[GraftGbm.Node]]): Array[GraftGbm.Node] = {
    // per-tree deterministic feature subset (feature_fraction) and bagging
    // epoch (bagging_fraction resampled every baggingFreq trees)
    val activeFeat: Array[Boolean] =
      if (featureFraction >= 1.0) Array.fill(nf)(true)
      else {
        val k = math.max(1, math.ceil(featureFraction * nf).toInt)
        val rng = new scala.util.Random(GraftGbm.mix64(seed ^ (round.toLong + 1)))
        val picked = rng.shuffle((0 until nf).toList).take(k).toSet
        Array.tabulate(nf)(picked.contains)
      }
    val bagPermyriad = if (baggingFraction >= 1.0) 10000 else (baggingFraction * 10000).toInt
    val bagEpoch = GraftGbm.mix64(seed ^ 0x5DEECE66DL ^ (round / baggingFreq).toLong)
    val objCode = GraftGbm.objCodeOf(objective)
    // nodes built incrementally; node 0 is the root
    val nodes = new scala.collection.mutable.ArrayBuffer[GraftGbm.Node]()
    nodes += GraftGbm.Node.openLeaf
    var open: Array[Int] = Array(0) // node ids open at the current level
    var leafCount = 1
    var depth = 0
    val lam = lambdaL2
    val lam1 = lambdaL1
    // driver-side split finding per open node
    case class Split(node: Int, feature: Int, binThreshold: Int,
                     missingLeft: Boolean, gain: Double,
                     leftValue: Double, rightValue: Double,
                     leftCount: Double, rightCount: Double)
    // Sibling-histogram subtraction (LightGBM's standard trick): a split's
    // rows partition EXACTLY between its children, so only the SMALLER
    // child is histogrammed in the distributed pass and the larger one is
    // derived on the driver as parent − sibling — halving per-level
    // histogram accumulation below the root. Retained parent histograms
    // are bounded by the leaf budget; a pathological nf·bins·leaves combo
    // falls back to direct computation under the byte cap. The subtraction
    // happens identically on the driver for the local and distributed
    // paths, so their bit-identity is untouched. Derived row COUNTS are
    // exact (integer-valued doubles); derived gradient/weight sums can
    // differ from directly-accumulated ones in the last ulp, which is the
    // same class of tolerance the fixed-topology merge already defines.
    val histLen = nf * maxNodeBins * 3
    val subtractBudget = Runtime.getRuntime.maxMemory() / 8
    // bigChild -> (parent histogram, smallChild id); rebuilt per level
    var derivePlan: Map[Int, (Array[Double], Int)] = Map.empty
    while (depth < maxDepth && open.nonEmpty && leafCount < numLeaves) {
      val partial = nodes.toArray // routing snapshot for this level's pass
      val vp = validPermyriad; val bp = bagPermyriad; val be = bagEpoch
      val oc = objCode; val al = alpha
      val nfL = nf; val mnbL = maxNodeBins
      // nodes histogrammed MaxOpenPerPass at a time: every partial (and
      // the driver-side merged result) stays <= chunk·nf·maxBins·3 doubles
      // no matter how wide the leaf budget grows; per-partition histograms
      // merge through the fixed-topology ordered reduction (deterministic
      // IEEE sums, <= fanIn partials ever reach the driver)
      val directNodes = open.filterNot(derivePlan.contains)
      val histOf = scala.collection.mutable.Map[Int, Array[Double]]()
      directNodes.grouped(GraftGbm.MaxOpenPerPass).foreach { chunk =>
        val openIdx: Map[Int, Int] = chunk.zipWithIndex.toMap
        val histSize = chunk.length * histLen
        val hist = data.pass((partial, openIdx, pending)) { (shared, blk) =>
          val (route, oi, pend) = shared
          val h = new Array[Double](histSize)
          val bins = blk.bins
          var i = 0
          while (i < blk.n) {
            val tag = blk.tags(i)
            if (!GraftGbm.inValid(tag, vp) && GraftGbm.inBag(tag, be, bp)) {
              val off = i * nfL
              val node = GraftGbm.routeBinnedAt(route, bins, off)
              val slot = oi.getOrElse(node, -1)
              if (slot >= 0) {
                val e = GraftGbm.scoreWithPendingAt(blk, i, pend) - blk.ys(i)
                val w = blk.ws(i)
                val g = w * GraftGbm.pointGrad(e, oc, al)
                var f = 0
                while (f < nfL) {
                  val base = ((slot * nfL + f) * mnbL + bins(off + f)) * 3
                  h(base) += g
                  h(base + 1) += w
                  h(base + 2) += 1.0
                  f += 1
                }
              }
            }
            i += 1
          }
          h
        }(GraftGbm.addInPlace)
        chunk.zipWithIndex.foreach { case (node, slot) =>
          histOf(node) = java.util.Arrays.copyOfRange(
            hist, slot * histLen, (slot + 1) * histLen)
        }
      }
      // derive each big sibling as parent − small sibling (elementwise)
      open.foreach { node =>
        derivePlan.get(node).foreach { case (parentHist, small) =>
          val sh = histOf(small)
          val d = new Array[Double](histLen)
          var i = 0
          while (i < histLen) { d(i) = parentHist(i) - sh(i); i += 1 }
          histOf(node) = d
        }
      }

      def findSplit(node: Int, hist: Array[Double]): Option[Split] = {
        // node totals from feature 0 (every feature sees every row)
        var tg = 0.0; var th = 0.0; var tc = 0.0
        var b = 0
        while (b < maxNodeBins) {
          val base = b * 3
          tg += hist(base); th += hist(base + 1); tc += hist(base + 2)
          b += 1
        }
        if (tc < 2 * minDataInLeaf) None
        else {
          // XGBoost-style L1/L2-regularized objective: score(G,H) =
          // T(G)²/(H+λ2) with T the λ1 soft threshold; λ1 = 0 reduces to
          // the plain G²/(H+λ2)
          def obj(g: Double, h: Double): Double = {
            val t = GraftGbm.softThreshold(g, lam1)
            t * t / (h + lam)
          }
          val parentObj = obj(tg, th)
          var best: Option[Split] = None
          var f = 0
          while (f < nf) {
            if (!activeFeat(f)) { f += 1 }
            else {
            val fb = f * maxNodeBins * 3
            val mg = hist(fb); val mh = hist(fb + 1); val mc = hist(fb + 2)
            // prefix over value bins 1..nBins(f)-1; split point AFTER bin t
            var lg = 0.0; var lh = 0.0; var lc = 0.0
            var t = 1
            while (t < nBins(f) - 1) {
              val base = fb + t * 3
              lg += hist(base); lh += hist(base + 1); lc += hist(base + 2)
              // try missing on each side (skip the duplicate when no missing)
              val sides = if (mc > 0) Array(true, false) else Array(false)
              var si = 0
              while (si < sides.length) {
                val ml = sides(si)
                val gl = lg + (if (ml) mg else 0.0)
                val hl = lh + (if (ml) mh else 0.0)
                val cl = lc + (if (ml) mc else 0.0)
                val gr = tg - gl; val hr = th - hl; val cr = tc - cl
                if (cl >= minDataInLeaf && cr >= minDataInLeaf && hl + lam > 0 && hr + lam > 0) {
                  val gain = 0.5 * (obj(gl, hl) + obj(gr, hr) - parentObj)
                  val better = best match {
                    case None => gain > minGain
                    case Some(s) =>
                      gain > s.gain + 1e-12 ||
                        (math.abs(gain - s.gain) <= 1e-12 &&
                          (f < s.feature || (f == s.feature && t < s.binThreshold)))
                  }
                  if (better && gain > minGain)
                    best = Some(Split(node, f, t, ml, gain,
                      -GraftGbm.softThreshold(gl, lam1) / (hl + lam) * learningRate,
                      -GraftGbm.softThreshold(gr, lam1) / (hr + lam) * learningRate,
                      cl, cr))
                }
                si += 1
              }
              t += 1
            }
            f += 1
            }
          }
          best
        }
      }
      val candidates = open.flatMap(node => findSplit(node, histOf(node)))

      // accept in gain order while under the leaf budget (ties: node order)
      val accepted = candidates.sortBy(s => (-s.gain, s.node))
        .take(math.max(0, numLeaves - leafCount))
      // retain parent histograms for next level's subtraction only under
      // the driver byte budget (numLeaves · histLen · 8 B worst case)
      val subtract = accepted.length.toLong * histLen * 8 <= subtractBudget
      val nextPlan = Map.newBuilder[Int, (Array[Double], Int)]
      val nextOpen = new scala.collection.mutable.ArrayBuffer[Int]()
      accepted.foreach { s =>
        val li = nodes.length
        nodes += GraftGbm.Node.leaf(s.leftValue)
        val ri = nodes.length
        nodes += GraftGbm.Node.leaf(s.rightValue)
        nodes(s.node) = GraftGbm.Node(s.feature, Double.NaN, s.binThreshold,
          s.missingLeft, li, ri, 0.0, isLeaf = false)
        gainOut(s.feature) += s.gain // LightGBM importance_type="gain"
        nextOpen += li
        nextOpen += ri
        leafCount += 1
        if (subtract) {
          // histogram the smaller child; derive the larger (ties: left)
          val (small, big) = if (s.leftCount <= s.rightCount) (li, ri) else (ri, li)
          nextPlan += big -> ((histOf(s.node), small))
        }
      }
      derivePlan = nextPlan.result()
      open = nextOpen.toArray
      depth += 1
    }
    // leaves that never split keep their value: open leaves at budget/depth
    // exhaustion still carry Node.openLeaf's 0.0 — refine them to the node's
    // optimal constant? They were created with the SPLIT's leaf value, so
    // only the never-split ROOT needs a value; give it the global optimum.
    if (nodes.length == 1 && objCode == 0) {
      // single-leaf tree: optimal constant is −T(G)/(H+λ) over the bagged
      // training rows at the current scores (partition-ordered pass).
      val vp = validPermyriad; val bp = bagPermyriad; val be = bagEpoch
      val (g, h) = data.pass(pending) { (pend, blk) =>
        var g = 0.0; var h = 0.0
        var i = 0
        while (i < blk.n) {
          val tag = blk.tags(i)
          if (!GraftGbm.inValid(tag, vp) && GraftGbm.inBag(tag, be, bp)) {
            g += blk.ws(i) * (GraftGbm.scoreWithPendingAt(blk, i, pend) - blk.ys(i))
            h += blk.ws(i)
          }
          i += 1
        }
        (g, h)
      }(GraftGbm.addPair)
      nodes(0) = GraftGbm.Node.leaf(
        -GraftGbm.softThreshold(g, lambdaL1) / (h + lambdaL2) * learningRate)
    }
    // l1 renews leaves to the weighted MEDIAN of residuals, quantile to the
    // weighted α-QUANTILE (same histogram machinery, different cut)
    if (objCode != 0)
      renewLeavesByQuantile(data, nodes, validPermyriad, bagPermyriad, bagEpoch,
        if (objCode == 1) 0.5 else alpha, pending)
    nodes.toArray
  }

  /** LightGBM's l1 leaf-output renewal (RenewTreeOutput): a leaf's optimal
    * absolute-error constant is the weighted MEDIAN of its residuals, not
    * the gradient step −G/(H+λ) (sign gradients make that step a tiny
    * ±learningRate nudge that never converges). Two partition-ordered
    * passes: residual range per leaf, then a 256-bin weighted residual
    * histogram whose half-weight bin midpoint approximates the median
    * (error ≤ range/256 per tree; boosting corrects the remainder) —
    * deterministic, no per-leaf sorts, no unbounded driver state.
    */
  private def renewLeavesByQuantile(data: GraftGbm.BinnedSet,
                            nodes: scala.collection.mutable.ArrayBuffer[GraftGbm.Node],
                            validPermyriad: Int, bagPermyriad: Int,
                            bagEpoch: Long, q: Double,
                            pending: Array[Array[GraftGbm.Node]]): Unit = {
    val treeArr = nodes.toArray
    val leafIds = treeArr.indices.filter(treeArr(_).isLeaf).toArray
    val nLeaves = leafIds.length
    val slotOf: Map[Int, Int] = leafIds.zipWithIndex.toMap
    val vp = validPermyriad; val bp = bagPermyriad; val be = bagEpoch
    val nLeavesL = nLeaves
    val (mn, mx) = data.pass((treeArr, slotOf, pending)) { (shared, blk) =>
      val (tree, slot, pend) = shared
      val mn = Array.fill(nLeavesL)(Double.PositiveInfinity)
      val mx = Array.fill(nLeavesL)(Double.NegativeInfinity)
      var i = 0
      while (i < blk.n) {
        val tag = blk.tags(i)
        if (!GraftGbm.inValid(tag, vp) && GraftGbm.inBag(tag, be, bp)) {
          val sl = slot(GraftGbm.routeBinnedAt(tree, blk.bins, i * blk.nf))
          val res = blk.ys(i) - GraftGbm.scoreWithPendingAt(blk, i, pend)
          if (res < mn(sl)) mn(sl) = res
          if (res > mx(sl)) mx(sl) = res
        }
        i += 1
      }
      (mn, mx)
    } { (a, b) =>
      var i = 0
      while (i < nLeavesL) {
        if (b._1(i) < a._1(i)) a._1(i) = b._1(i)
        if (b._2(i) > a._2(i)) a._2(i) = b._2(i)
        i += 1
      }
      a
    }
    val bins = 256
    val hist = data.pass((treeArr, slotOf, mn, mx, pending)) { (shared, blk) =>
      val (tree, slot, mnS, mxS, pend) = shared
      val h = new Array[Double](nLeavesL * bins)
      var i = 0
      while (i < blk.n) {
        val tag = blk.tags(i)
        if (!GraftGbm.inValid(tag, vp) && GraftGbm.inBag(tag, be, bp)) {
          val sl = slot(GraftGbm.routeBinnedAt(tree, blk.bins, i * blk.nf))
          val lo = mnS(sl); val hi = mxS(sl)
          if (lo <= hi) {
            val res = blk.ys(i) - GraftGbm.scoreWithPendingAt(blk, i, pend)
            val b =
              if (hi == lo) 0
              else math.min(bins - 1, ((res - lo) / (hi - lo) * bins).toInt)
            h(sl * bins + b) += blk.ws(i)
          }
        }
        i += 1
      }
      h
    }(GraftGbm.addInPlace)
    var sl = 0
    while (sl < nLeaves) {
      val total = {
        var s = 0.0; var b = 0
        while (b < bins) { s += hist(sl * bins + b); b += 1 }; s
      }
      if (total > 0 && mn(sl) <= mx(sl)) {
        val cut = total * q
        var cum = 0.0; var b = 0
        while (b < bins && cum + hist(sl * bins + b) < cut) {
          cum += hist(sl * bins + b); b += 1
        }
        val med =
          if (mx(sl) == mn(sl)) mn(sl)
          else mn(sl) + (b + 0.5) / bins * (mx(sl) - mn(sl))
        nodes(leafIds(sl)) = GraftGbm.Node.leaf(learningRate * med)
      }
      sl += 1
    }
  }
}

object GraftGbm {
  /** One binned training row; `score` is the running boosted prediction
    * (a var so the driver-local path can fold scores in place — the
    * distributed path still copies, rows in an RDD are never mutated);
    * `tag` is the deterministic 64-bit row tag driving valid/bag splits.
    */
  final case class TrainRow(bins: Array[Short], y: Double, w: Double,
                            var score: Double, tag: Long = 0L)

  /** Columnar per-partition training block: row i's bins live at
    * [i·nf, (i+1)·nf) in one flat Short array; labels/weights/scores/tags
    * are parallel primitive arrays. This is the r9 storage rewrite of the
    * per-row TrainRow form: every boosting pass scans sequential primitive
    * memory with zero per-row objects (no GC pressure, no pointer chasing),
    * the persisted training set shrinks ~3× (≈2·nf+32 B/row vs ~150 B with
    * JVM object headers), and (de)serialization moves bulk buffers. Row
    * ORDER within a block is exactly the old per-partition row order, so
    * every fold visits the same values in the same sequence — trained trees
    * are bit-identical to the row-object form.
    */
  final class BinnedBlock(val n: Int, val nf: Int, val bins: Array[Short],
                          val ys: Array[Double], val ws: Array[Double],
                          val scores: Array[Double], val tags: Array[Long])
      extends Serializable

  private[forecast] val emptyBlock: BinnedBlock =
    new BinnedBlock(0, 0, Array.empty, Array.empty, Array.empty,
      Array.empty, Array.empty)

  /** Pack one partition's rows (in iterator order) into a columnar block. */
  private[forecast] def packRows(it: Iterator[TrainRow]): BinnedBlock = {
    val rows = it.toArray
    val n = rows.length
    if (n == 0) return emptyBlock
    val nf = rows(0).bins.length
    val bins = new Array[Short](n * nf)
    val ys = new Array[Double](n); val ws = new Array[Double](n)
    val scores = new Array[Double](n); val tags = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = rows(i)
      System.arraycopy(r.bins, 0, bins, i * nf, nf)
      ys(i) = r.y; ws(i) = r.w; scores(i) = r.score; tags(i) = r.tag
      i += 1
    }
    new BinnedBlock(n, nf, bins, ys, ws, scores, tags)
  }

  /** Shared empty pending-tree set (closures capture this instead of
    * broadcasting a zero-length array every round).
    */
  val emptyPending: Array[Array[Node]] = Array.empty

  // ---- broadcast hygiene audit -----------------------------------------
  // Every broadcast the booster creates goes through bcastAudited /
  // destroyAudited. When auditing is on (the hygiene spec), each broadcast
  // is held by WEAK reference plus its id when explicitly destroyed; the
  // invariant a 100-round fit must satisfy is that afterwards every
  // tracked broadcast is either explicitly destroyed or weakly unreachable
  // (= ContextCleaner-eligible, e.g. the documented checkpoint-referenced
  // pending broadcasts) — nothing accumulates with round count.
  @volatile private[graft] var auditBroadcasts = false
  private[graft] val broadcastRefs =
    new java.util.concurrent.ConcurrentLinkedQueue[
      java.lang.ref.WeakReference[org.apache.spark.broadcast.Broadcast[_]]]()
  private[graft] val destroyedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  private[graft] def bcastAudited[T: scala.reflect.ClassTag](
      sc: org.apache.spark.SparkContext, v: T): org.apache.spark.broadcast.Broadcast[T] = {
    val b = sc.broadcast(v)
    if (auditBroadcasts)
      broadcastRefs.add(new java.lang.ref.WeakReference(b))
    b
  }

  private[graft] def destroyAudited(b: org.apache.spark.broadcast.Broadcast[_]): Unit = {
    if (auditBroadcasts) destroyedIds.add(b.id)
    b.destroy()
  }

  /** Broadcasts still strongly reachable AND not explicitly destroyed
    * (call after System.gc(); the hygiene spec asserts this stays 0 after
    * a fit regardless of round count).
    */
  private[graft] def undisposedReachableBroadcasts(): Int = {
    var n = 0
    val it = broadcastRefs.iterator()
    while (it.hasNext) {
      val b = it.next().get()
      if (b != null && !destroyedIds.contains(b.id)) n += 1
    }
    n
  }

  private[graft] def resetBroadcastAudit(): Unit = {
    broadcastRefs.clear(); destroyedIds.clear()
  }
  // ----------------------------------------------------------------------

  /** Cell (row × feature) cap per packed [[BinnedBlock]]: 2^24 cells ≈
    * 32 MB of Short bins per block. Bounds packing memory per partition and
    * removes the single-block n·nf <= Int.MaxValue ceiling — partitions
    * bigger than the cap emit several blocks, folded in iterator order by
    * every pass.
    */
  private[forecast] def BlockMaxCells: Long =
    java.lang.Long.getLong("graft.gbm.blockMaxCells", 1L << 24)

  /** Open nodes histogrammed per distributed pass. Bounds each partition's
    * partial — and the merged driver copy — at
    * MaxOpenPerPass·nFeat·maxBins·3 doubles (≈ nFeat·97 KB at maxBins 63)
    * independent of `numLeaves`; levels with more open nodes just take
    * ceil(nOpen/64) passes. Without the cap the tuning space's 4096-leaf
    * configs would ship multi-GB histograms.
    */
  private[graft] val MaxOpenPerPass = 64

  /** Elementwise in-place array sum (left argument mutated and returned). */
  private[graft] val addInPlace: (Array[Double], Array[Double]) => Array[Double] =
    (a, b) => {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

  /** Pairwise (sum, sum) merge. */
  private[graft] val addPair: ((Double, Double), (Double, Double)) => (Double, Double) =
    (a, b) => (a._1 + b._1, a._2 + b._2)

  /** Deterministic fixed-topology reduction of one-partial-per-partition
    * RDDs: while more than `fanIn` partials remain, partition indices group
    * as k/fanIn and each group merges IN ASCENDING INDEX ORDER (left fold)
    * in a single reduce task; the driver left-folds the final ≤ fanIn
    * survivors the same way. The merge association is a pure function of
    * the partition index — never of executor scheduling — so IEEE float
    * sums are bit-reproducible on a fixed layout, and at P ≤ fanIn the
    * result is exactly the historical driver-side partition-ordered fold.
    * Driver traffic is O(fanIn · |partial|) and depth O(log_fanIn P),
    * instead of the O(P · |partial|) single-process collect that becomes
    * tens of GB per tree level on a 10^4-partition cluster.
    */
  private[graft] def reduceOrdered[T: scala.reflect.ClassTag](
      parts: RDD[(Int, T)], nKeys: Int, merge: (T, T) => T,
      fanIn: Int = 32): T = {
    require(nKeys > 0, "reduceOrdered over an empty partition set")
    var cur = parts
    var n = nKeys
    while (n > fanIn) {
      val groups = (n + fanIn - 1) / fanIn
      cur = cur.map { case (k, v) => (k / fanIn, (k, v)) }
        .groupByKey(groups)
        .map { case (g, it) =>
          val sorted = it.toArray.sortBy(_._1)
          var acc = sorted(0)._2
          var i = 1
          while (i < sorted.length) { acc = merge(acc, sorted(i)._2); i += 1 }
          (g, acc)
        }
      n = groups
    }
    val fin = cur.collect().sortBy(_._1)
    var acc = fin(0)._2
    var i = 1
    while (i < fin.length) { acc = merge(acc, fin(i)._2); i += 1 }
    acc
  }

  /** In-process twin of [[reduceOrdered]]: the same ascending-index groups
    * of `fanIn`, the same left-fold order within each group and at the top —
    * a pure function of the partial's index — so IEEE float merges are
    * bit-identical to the distributed reduction over the same partials.
    */
  private[forecast] def reduceOrderedLocal[T: scala.reflect.ClassTag](
      partials: Array[T], merge: (T, T) => T, fanIn: Int = 32): T = {
    require(partials.nonEmpty, "reduceOrderedLocal over an empty partition set")
    var cur = partials
    while (cur.length > fanIn) {
      val groups = (cur.length + fanIn - 1) / fanIn
      cur = Array.tabulate(groups) { g =>
        var acc = cur(g * fanIn)
        var i = 1
        while (i < fanIn && g * fanIn + i < cur.length) {
          acc = merge(acc, cur(g * fanIn + i)); i += 1
        }
        acc
      }
    }
    var acc = cur(0)
    var i = 1
    while (i < cur.length) { acc = merge(acc, cur(i)); i += 1 }
    acc
  }

  /** Row·feature-cell bound for the driver-local fit path: at most 2^27
    * cells (≈ 256 MB of Short bins) ever ride the driver, so the cap
    * scales down automatically with feature count (13 features → ~10 M
    * rows; 100 features → ~1.3 M rows). [[localFitMaxBytes]] is the
    * governing heap bound — this cap is the structural ceiling on the bin
    * matrix itself.
    */
  private[forecast] val LocalFitMaxCells: Long = 1L << 27

  /** Estimated driver-heap bytes for ONE collected row in the columnar
    * [[BinnedBlock]] layout: 2·nf Short bin bytes plus y/w/score/tag slots
    * in the parallel primitive arrays (8·4 B) — no per-row objects, so
    * this is within a few array headers of exact.
    */
  private[forecast] def localRowBytes(nf: Int): Long =
    2L * nf + 32L

  /** Driver-heap byte budget for the local fit: a quarter of the driver's
    * max heap, capped at 1 GB. At the default caps the worst case is
    * ≈ 460 MB (8 M rows × 13 features, columnar layout) — real heap, spent
    * only when the driver actually has 4× that available; on small drivers
    * the byte gate routes to the distributed path before the rows/cells
    * gates would.
    */
  private[forecast] def localFitMaxBytes: Long =
    math.min(1L << 30, Runtime.getRuntime.maxMemory() / 4)

  /** Training-set abstraction behind every boosting pass. Both impls run
    * the identical per-partition accumulation (rows in partition order) and
    * the identical fixed-topology ordered merge, so trained trees are
    * bit-identical; they differ only in WHERE the fold runs. [[DistBinned]]
    * broadcasts `shared` and reduces across the cluster (the 100 TB path);
    * [[LocalBinned]] holds the collected per-partition row arrays and folds
    * in-process (the LightGBM-scale path: zero Spark jobs per round).
    */
  private[forecast] sealed trait BinnedSet {
    def nParts: Int
    def pass[B: scala.reflect.ClassTag, T: scala.reflect.ClassTag](shared: B)(
        mk: (B, BinnedBlock) => T)(merge: (T, T) => T): T
    /** Rows with score set to the constant base (initial fold). */
    def withBase(base: Double): BinnedSet
    /** Rows with `pending` trees folded into the materialized score. */
    def rescore(pending: Array[Array[Node]]): BinnedSet
    def dispose(): Unit
  }

  private[forecast] final class DistBinned(val rdd: RDD[BinnedBlock]) extends BinnedSet {
    def nParts: Int = rdd.getNumPartitions
    def pass[B: scala.reflect.ClassTag, T: scala.reflect.ClassTag](shared: B)(
        mk: (B, BinnedBlock) => T)(merge: (T, T) => T): T = {
      val b = bcastAudited(rdd.sparkContext, shared)
      val out = reduceOrdered(
        rdd.mapPartitionsWithIndex { (pid, it) =>
          // one block per partition by construction; fold defensively in
          // iterator order if a partition ever carries several
          var acc = mk(b.value, if (it.hasNext) it.next() else emptyBlock)
          while (it.hasNext) acc = merge(acc, mk(b.value, it.next()))
          Iterator((pid, acc))
        },
        rdd.getNumPartitions, merge)
      destroyAudited(b)
      out
    }
    def withBase(base: Double): BinnedSet = {
      val next = rdd.map { blk =>
        val s = new Array[Double](blk.n)
        java.util.Arrays.fill(s, base)
        new BinnedBlock(blk.n, blk.nf, blk.bins, blk.ys, blk.ws, s, blk.tags)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count()
      new DistBinned(next)
    }
    def rescore(pending: Array[Array[Node]]): BinnedSet = {
      val pB = bcastAudited(rdd.sparkContext, pending)
      val pinned = rdd.map { blk =>
        val s = new Array[Double](blk.n)
        var i = 0
        while (i < blk.n) { s(i) = scoreWithPendingAt(blk, i, pB.value); i += 1 }
        new BinnedBlock(blk.n, blk.nf, blk.bins, blk.ys, blk.ws, s, blk.tags)
      }.localCheckpoint()
      pinned.count()
      rdd.unpersist(false)
      // pB NOT destroyed: the checkpointed RDD's map closure still references
      // it when later tasks serialize the graph; the ContextCleaner frees it
      // once the RDD itself is unpersisted
      new DistBinned(pinned)
    }
    def dispose(): Unit = rdd.unpersist(false)
  }

  /** The local fit's per-partition passes, on the common ForkJoinPool.
    * Only the CONTENT of each partial slot matters, and the merge runs in
    * fixed partition-index order regardless of scheduling.
    */
  private def runLocalParallel(n: Int)(body: Int => Unit): Unit =
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => body(i))

  /** `parts(p)` holds partition p's blocks in iterator order (possibly
    * empty — empty partitions still occupy their slot so the merge topology
    * matches [[DistBinned]] exactly, which emits one partial per PARTITION
    * regardless of block count).
    */
  private[forecast] final class LocalBinned(parts: Array[Array[BinnedBlock]]) extends BinnedSet {
    require(parts.nonEmpty, "LocalBinned over an empty partition set")
    def nParts: Int = parts.length
    // per-partition partials are independent, so they compute on the common
    // ForkJoinPool (matching the executor-thread parallelism local[n] would
    // give the distributed path); only the CONTENT of each slot matters —
    // the merge below still runs in the fixed partition-index order, so
    // results stay bit-identical regardless of thread scheduling
    def pass[B: scala.reflect.ClassTag, T: scala.reflect.ClassTag](shared: B)(
        mk: (B, BinnedBlock) => T)(merge: (T, T) => T): T = {
      val partials = new Array[T](parts.length)
      runLocalParallel(parts.length) { p =>
        // same left fold over the partition's blocks as DistBinned.pass
        val blocks = parts(p)
        var acc = mk(shared, if (blocks.nonEmpty) blocks(0) else emptyBlock)
        var i = 1
        while (i < blocks.length) { acc = merge(acc, mk(shared, blocks(i))); i += 1 }
        partials(p) = acc
      }
      reduceOrderedLocal(partials, merge)
    }
    // the local set owns its score arrays exclusively (freshly collected),
    // so score folds mutate in place — zero allocation per fold
    def withBase(base: Double): BinnedSet = {
      runLocalParallel(parts.length)(p =>
        parts(p).foreach(blk => java.util.Arrays.fill(blk.scores, base)))
      this
    }
    def rescore(pending: Array[Array[Node]]): BinnedSet = {
      runLocalParallel(parts.length) { p =>
        parts(p).foreach { blk =>
          var i = 0
          while (i < blk.n) {
            blk.scores(i) = scoreWithPendingAt(blk, i, pending); i += 1
          }
        }
      }
      this
    }
    def dispose(): Unit = ()
  }

  /** Weighted label quantile over the TRAINING rows (valid holdout
    * excluded): min/max pass then a 256-bin weighted histogram, cut at q —
    * the same bounded machinery leaf renewal uses (≤ range/256
    * discretization; boosting corrects the remainder). Backs the
    * per-objective base score (LightGBM boost_from_average: l1 starts at
    * the median, quantile at the α-quantile).
    */
  private[graft] def weightedLabelQuantile(data: RDD[TrainRow],
                                           validPermyriad: Int,
                                           q: Double): Double = {
    val set = new DistBinned(data.mapPartitions(it => Iterator.single(packRows(it))))
    val vp = validPermyriad
    val (lo, hi) = set.pass(0) { (_: Int, blk) =>
      var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
      var i = 0
      while (i < blk.n) {
        if (!inValid(blk.tags(i), vp)) {
          val y = blk.ys(i)
          if (y < mn) mn = y
          if (y > mx) mx = y
        }
        i += 1
      }
      (mn, mx)
    }((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
    weightedLabelQuantile(set, validPermyriad, q, lo, hi)
  }

  private[graft] def weightedLabelQuantile(data: RDD[TrainRow],
                                           validPermyriad: Int, q: Double,
                                           lo: Double, hi: Double): Double =
    weightedLabelQuantile(
      new DistBinned(data.mapPartitions(it => Iterator.single(packRows(it)))),
      validPermyriad, q, lo, hi)

  /** As above with the label range already known (the fit folds it into
    * its first pass) — one histogram pass instead of two scans.
    */
  /** Exact distributed weighted quantile via iterative histogram
    * refinement: each pass histograms the current candidate interval into
    * 256 bins (plus the weight strictly below it) and narrows to the bin
    * containing the cut; the interval shrinks 256× per pass until its bin
    * edges are no longer representable (≤ ~256 ulps wide, ~8 passes), then
    * a final bounded pass collects the few distinct label values left in
    * the interval and selects the smallest y with cumWeight(≤ y) ≥ q·total
    * exactly. Every pass uses the same fixed-topology [[reduceOrdered]]
    * machinery (bit-identical, ≤ fanIn partials at the driver), so the
    * l1/quantile base score now matches the exact weighted percentile
    * instead of a 256-bin midpoint (r7 ADVICE).
    */
  private[graft] def weightedLabelQuantile(data: BinnedSet,
                                           validPermyriad: Int, q: Double,
                                           lo: Double, hi: Double): Double = {
    val vp = validPermyriad
    if (!(lo <= hi)) return 0.0 // caller guards non-empty via sumW > 0
    if (hi == lo) return lo
    val bins = 256
    // one pass: (weight strictly below curLo, histogram over [curLo,curHi])
    def pass(curLo: Double, curHi: Double): (Double, Array[Double]) = {
      val merged = data.pass((curLo, curHi)) { (range, blk) =>
        val (rLo, rHi) = range
        val h = new Array[Double](bins + 1) // slot 0 = belowW
        var i = 0
        while (i < blk.n) {
          if (!inValid(blk.tags(i), vp)) {
            val y = blk.ys(i)
            if (y < rLo) h(0) += blk.ws(i)
            else if (y <= rHi) {
              val b = math.min(bins - 1,
                math.max(0, ((y - rLo) / (rHi - rLo) * bins).toInt))
              h(b + 1) += blk.ws(i)
            }
          }
          i += 1
        }
        h
      }(addInPlace)
      (merged(0), java.util.Arrays.copyOfRange(merged, 1, bins + 1))
    }
    var curLo = lo
    var curHi = hi
    val (below0, hist0) = pass(curLo, curHi)
    var total = below0
    var b = 0
    while (b < bins) { total += hist0(b); b += 1 }
    if (total <= 0.0) return lo
    val cut = total * q
    var belowW = below0
    var hist = hist0
    var stalled = false
    var passes = 0
    while (!stalled && curHi > curLo && passes < 16) {
      var cum = belowW
      b = 0
      while (b < bins && cum + hist(b) < cut) { cum += hist(b); b += 1 }
      if (b >= bins) b = bins - 1 // FP guard: cut beyond last bin edge
      val newLo = curLo + b.toDouble / bins * (curHi - curLo)
      val newHi = if (b == bins - 1) curHi
                  else curLo + (b + 1).toDouble / bins * (curHi - curLo)
      if (newLo == curLo && newHi == curHi) stalled = true
      else {
        curLo = newLo; curHi = newHi
        passes += 1
        if (curHi > curLo) { val p = pass(curLo, curHi); belowW = p._1; hist = p._2 }
      }
    }
    if (curHi == curLo) return curLo
    // interval is ≤ ~256 ulps wide: the distinct labels inside are few and
    // bounded — collect them exactly and select the quantile value
    val cap = 4096
    val collected = data.pass((curLo, curHi)) { (range, blk) =>
      val (finLo, finHi) = range
      var bw = 0.0
      val m = new java.util.TreeMap[Double, Double]()
      var over = false
      var i = 0
      while (i < blk.n) {
        if (!inValid(blk.tags(i), vp)) {
          val y = blk.ys(i)
          if (y < finLo) bw += blk.ws(i)
          else if (y <= finHi && !over) {
            m.put(y, m.getOrDefault(y, 0.0) + blk.ws(i))
            if (m.size > cap) over = true
          }
        }
        i += 1
      }
      (bw, m, over)
    } { (a, b2) =>
      val m = a._2
      val it2 = b2._2.entrySet().iterator()
      while (it2.hasNext) {
        val e = it2.next()
        m.put(e.getKey, m.getOrDefault(e.getKey, 0.0) + e.getValue)
      }
      (a._1 + b2._1, m, a._3 || b2._3 || m.size > cap)
    }
    val (bw, vals, overflow) = collected
    if (overflow || vals.isEmpty) return curLo + 0.5 * (curHi - curLo) // defensive midpoint
    var cum = bw
    val it = vals.entrySet().iterator()
    var ans = vals.lastKey()
    var found = false
    while (it.hasNext && !found) {
      val e = it.next()
      cum += e.getValue
      if (cum >= cut) { ans = e.getKey; found = true }
    }
    ans
  }

  /** splitmix64 finalizer — the stateless hash behind row tags. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Row is in the early-stopping holdout (permyriad of 10000). */
  def inValid(tag: Long, permyriad: Int): Boolean =
    permyriad > 0 && Math.floorMod(mix64(tag ^ 0x7F4A7C15L), 10000L) < permyriad

  /** Row is in this bagging epoch's subsample. */
  def inBag(tag: Long, epoch: Long, permyriad: Int): Boolean =
    permyriad >= 10000 || Math.floorMod(mix64(tag ^ epoch), 10000L) < permyriad

  /** λ1 soft threshold: sign(g)·max(0, |g|−a). */
  def softThreshold(g: Double, a: Double): Double =
    if (a <= 0) g else math.signum(g) * math.max(0.0, math.abs(g) - a)

  private[forecast] def objCodeOf(objective: String): Int = objective match {
    case "l2" => 0
    case "l1" => 1
    case "quantile" => 2
    case other => throw new IllegalArgumentException(s"bad objective $other")
  }

  /** Loss gradient wrt the score at residual e = score − y (weight applied
    * by the caller): l2 = e, l1 = sign(e), quantile = pinball slope
    * ((1−α) above the target, −α below).
    */
  private[forecast] def pointGrad(e: Double, objCode: Int, alpha: Double): Double =
    objCode match {
      case 0 => e
      case 1 => math.signum(e)
      case _ => if (e > 0) 1.0 - alpha else if (e < 0) -alpha else 0.0
    }

  /** Per-point loss at residual e = score − y (for early-stopping eval). */
  private[forecast] def pointLoss(e: Double, objCode: Int, alpha: Double): Double =
    objCode match {
      case 0 => e * e
      case 1 => math.abs(e)
      case _ => if (e >= 0) (1.0 - alpha) * e else -alpha * e
    }

  /** The reference's default LightGBM tuning space (auto.py:50-61:
    * n_estimators, lambda_l1/l2, num_leaves, feature_fraction,
    * bagging_fraction, objective ∈ {l1, l2}; learning_rate fixed at 0.05,
    * bagging_freq 1) re-expressed for [[TpeMLForecast]] — pair with a
    * `build` that maps each sampled point through [[fromParams]].
    */
  def tpeSpace: Seq[ParamDim] = Seq(
    LogUniformDim("num_rounds", 20, 1000),
    LogUniformDim("lambda_l1", 1e-8, 10.0),
    LogUniformDim("lambda_l2", 1e-8, 10.0),
    LogUniformDim("num_leaves", 2, 4096),
    UniformDim("feature_fraction", 0.5, 1.0),
    UniformDim("bagging_fraction", 0.5, 1.0),
    ChoiceDim("objective", 2))

  /** Sampled [[tpeSpace]] point → a GraftGbm; maxDepth widens with the leaf
    * budget so num_leaves is actually reachable.
    */
  def fromParams(p: Map[String, Double]): GraftGbm = {
    val leaves = math.max(2, math.round(p("num_leaves")).toInt)
    GraftGbm(
      numRounds = math.max(1, math.round(p("num_rounds")).toInt),
      numLeaves = leaves,
      maxDepth = math.max(6,
        64 - java.lang.Long.numberOfLeadingZeros((leaves - 1).toLong).toInt + 1),
      learningRate = 0.05,
      lambdaL1 = p("lambda_l1"),
      lambdaL2 = p("lambda_l2"),
      featureFraction = p("feature_fraction"),
      baggingFraction = p("bagging_fraction"),
      baggingFreq = 1,
      objective = if (math.round(p("objective")).toInt == 0) "l1" else "l2")
  }

  /** Flat tree node. For split nodes during GROWTH `binThreshold` routes on
    * bin ids (go left when bin <= binThreshold; bin 0 = missing routes by
    * `missingLeft`); for SCORING `threshold` holds the real upper edge of
    * that bin (go left when value <= threshold).
    */
  final case class Node(feature: Int, threshold: Double, binThreshold: Int,
                        missingLeft: Boolean, left: Int, right: Int,
                        value: Double, isLeaf: Boolean)
  object Node {
    val openLeaf: Node = leaf(0.0)
    def leaf(v: Double): Node =
      Node(-1, Double.NaN, -1, missingLeft = true, -1, -1, v, isLeaf = true)
  }

  /** Bin id of a raw value: 0 = missing; else 1 + #edges <= value... bins
    * are `(-inf, e0], (e0, e1], ..., (eLast, +inf)` → 1-based index.
    */
  def binOf(v: Double, edges: Array[Double]): Int = {
    if (v.isNaN) return 0
    var lo = 0; var hi = edges.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (v <= edges(mid)) hi = mid else lo = mid + 1
    }
    lo + 1
  }

  /** Row's effective boosted score: the materialized `score` plus the
    * PENDING trees' contributions in boosting order — bit-identical to
    * per-round materialization (same left-fold FP association).
    */
  def scoreWithPendingAt(blk: BinnedBlock, i: Int,
                         pending: Array[Array[Node]]): Double = {
    var s = blk.scores(i)
    val off = i * blk.nf
    var t = 0
    while (t < pending.length) {
      s += walkBinnedAt(pending(t), blk.bins, off); t += 1
    }
    s
  }

  /** Leaf node id row `off/nf` routes to (growth-time routing over the
    * flat bin matrix; `off` is the row's base offset).
    */
  def routeBinnedAt(nodes: Array[Node], bins: Array[Short], off: Int): Int = {
    var i = 0
    while (!nodes(i).isLeaf) {
      val n = nodes(i)
      val b = bins(off + n.feature)
      i = if (b == 0) { if (n.missingLeft) n.left else n.right }
      else if (b <= n.binThreshold) n.left
      else n.right
    }
    i
  }

  /** Tree output for a binned row at flat offset `off` (growth-time). */
  def walkBinnedAt(nodes: Array[Node], bins: Array[Short], off: Int): Double =
    nodes(routeBinnedAt(nodes, bins, off)).value

  /** Full-ensemble score for a raw feature array (NaN = missing): base
    * score plus every tree's output — THE scoring definition, shared by
    * the fused-loop scorer and the GbmScoreExpr predict(df) path so the
    * two can never drift.
    */
  def scoreRaw(trees: Array[Array[Node]], base: Double,
               vals: Array[Double]): Double = {
    var s = base
    var t = 0
    while (t < trees.length) { s += walkRaw(trees(t), vals); t += 1 }
    s
  }

  /** Tree output for a raw feature array (NaN = missing). */
  def walkRaw(nodes: Array[Node], vals: Array[Double]): Double = {
    var i = 0
    while (!nodes(i).isLeaf) {
      val n = nodes(i)
      val v = vals(n.feature)
      i = if (v.isNaN) { if (n.missingLeft) n.left else n.right }
      else if (v <= n.threshold) n.left
      else n.right
    }
    nodes(i).value
  }
}

/** Trained GraftGbm: base score + scoring trees (real-valued thresholds).
  * The whole model is driver-sized (trees of numbers) and java-serializes
  * through the save blob, like MLlib models; no sidecar state needed.
  */
final class GraftGbmTrained private[forecast] (trees: Array[Array[GraftGbm.Node]],
                                               baseScore: Double,
                                               learningRate: Double,
                                               featureNames: Array[String] = Array.empty,
                                               importance: Array[Double] = Array.empty)
    extends TrainedModel {
  /** Boosting rounds kept (early stopping truncates to the best iteration). */
  def numTrees: Int = trees.length

  /** Ensemble prefix of the first k trees — the boosting-trajectory
    * truncation LightGBMCV stages evals with. Importances keep the full
    * model's values (eval-only use).
    */
  private[forecast] def truncated(k: Int): GraftGbmTrained =
    new GraftGbmTrained(trees.take(k), baseScore, learningRate,
      featureNames, importance)

  /** Total split gain per feature over the kept trees (LightGBM
    * importance_type="gain"), descending.
    */
  def featureImportance: Seq[(String, Double)] =
    featureNames.zip(importance).sortBy(-_._2).toSeq
  def predict(df: DataFrame, featureCols: Seq[String], out: String): DataFrame = {
    // native expression scoring (primitive double[] per row) — a Scala UDF
    // here would box every feature of every row through Seq[Double]
    val arr = array(featureCols.map(c =>
      coalesce(col(s"`$c`").cast("double"), lit(Double.NaN))): _*)
    df.withColumn(out, graft.plans.GbmScoreExpr.score(arr, trees, baseScore))
  }

  override def scorer(featureCols: Seq[String]): Option[Array[Double] => java.lang.Double] = {
    val treesL = trees
    val base = baseScore
    Some(arr => java.lang.Double.valueOf(GraftGbm.scoreRaw(treesL, base, arr)))
  }
}
