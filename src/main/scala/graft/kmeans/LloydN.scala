package graft.kmeans

import org.apache.spark.sql.DataFrame

/** n-D Lloyd driver loop — same structure as [[Lloyd]] (one Spark job per
  * iteration: shuffle-free assign → one-pass VectorMean aggregate → O(K·d)
  * collect), generalized to `ARRAY<DOUBLE>` features.
  */
object LloydN {

  def fit(points: DataFrame, cfg: KMeansConfig): KMeansResultN = {
    require(cfg.k > 0, "k must be positive")
    CachedInput(points)(fitCached(_, cfg))
  }

  private def fitCached(points: DataFrame, cfg: KMeansConfig): KMeansResultN = {
    var centroids = OpsN.collectCentroidsN(OpsN.initFirstKN(points, cfg.k))
    require(centroids.nonEmpty, s"fewer than 1 point available for k=${cfg.k} init")
    var iter = 0
    var done = false
    while (iter < cfg.maxIter && !done) {
      iter += 1
      val updated =
        OpsN.collectCentroidsN(
          OpsN.updateN(OpsN.assignN(points, centroids)).drop("n"))
      val next = cfg.emptyClusters match {
        case EmptyClusterPolicy.Drop => updated
        case EmptyClusterPolicy.Keep =>
          val seen = updated.map(_.cid).toSet
          (updated ++ centroids.filterNot(c => seen(c.cid))).sortBy(_.cid)
      }
      done = OpsN.convergedN(centroids, next, cfg.tol)
      centroids = next
    }
    KMeansResultN(centroids, iter, done)
  }

  /** Fixed-iteration n-D Lloyd (NO early stop): exactly `iters` rounds of
    * assign → mean. Unlike [[fit]] this unrolls into an exact SQL oracle
    * (cf. [[Lloyd.iterate]]); empty clusters drop, matching the SQL's
    * group-by-assigned semantics.
    */
  def iterateN(points: DataFrame, k: Int, iters: Int): Seq[CentroidN] = {
    CachedInput(points) { cached =>
      var centroids = OpsN.collectCentroidsN(OpsN.initFirstKN(cached, k))
      require(centroids.nonEmpty, s"fewer than 1 point available for k=$k init")
      var i = 0
      while (i < iters) {
        // the one-node kernel at any k: a corpus-SIZED quantizer (k ~
        // n/occupancy, cf. Similarity.semDedupSized) still plans a single
        // node per iteration and never shuffles the points
        centroids = OpsN.collectCentroidsN(
          OpsN.updateN(OpsN.assignN(cached, centroids)).drop("n"))
        i += 1
      }
      centroids
    }
  }

  /** [[iterateN]] with the quantizer fit on a DETERMINISTIC hash-sample
    * of ~`sampleCap` points: at corpus scale a k-means fit is otherwise
    * `iters` FULL corpus passes, while standard practice (FAISS trains
    * coarse quantizers on a bounded subsample) caps the training set —
    * assignment downstream still sees every row. The sample is id-pure
    * (md5-hash uniform on pid, no RNG state), so the fitted quantizer is
    * identical across runs, partitionings, and engines; `sampleCap >= n`
    * keeps the sample = the corpus, making the fit BIT-IDENTICAL to
    * [[iterateN]] (property-tested) — which is why oracle-checked paths
    * can route through this with a cap above the fixture sizes. One
    * O(n) count decides the rate; init is first-K by pid OF THE SAMPLE.
    */
  def iterateNSampled(
      points: DataFrame,
      k: Int,
      iters: Int,
      sampleCap: Long,
      knownCount: Option[Long] = None): Seq[CentroidN] = {
    require(sampleCap > 0, s"sampleCap=$sampleCap")
    // callers that already counted (e.g. a sized operator deriving k from
    // n) pass the count through — one corpus count total, not two
    val n = knownCount.getOrElse(points.count())
    // the sample must SUPPLY k centroids: a corpus-sized k (semDedupSized
    // derives k ~ n/occupancy) eventually exceeds any fixed cap, and a
    // sample smaller than k would silently fit fewer centroids — cell
    // occupancy then regrows ~n/|sample| and the within-cell pairwise
    // work goes quadratic again. Scale the effective cap to k times a
    // minimum per-centroid mass (FAISS trains on >= 39 points per
    // centroid for the same reason); below the cap the sample is still
    // the corpus, so oracle-checked fixture runs are unchanged.
    val effectiveCap = math.max(sampleCap, k.toLong * minPointsPerCentroid)
    val pts =
      if (n <= effectiveCap) points
      else points.filter(
        graft.text.TextOps.hashUniform(
          org.apache.spark.sql.functions.col("pid"), "qfit")
          < effectiveCap.toDouble / n.toDouble)
    iterateN(pts, k, iters)
  }

  /** Minimum expected sample points per requested centroid when the fit
    * is hash-sampled — FAISS's `min_points_per_centroid` default.
    */
  val minPointsPerCentroid: Long = 39L

  def transform(points: DataFrame, result: KMeansResultN): DataFrame =
    OpsN.assignN(points, result.centroids)
}
