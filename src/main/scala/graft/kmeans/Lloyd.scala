package graft.kmeans

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The iterative Lloyd driver loop (reference `master.py:215-258`).
  *
  * Per iteration the reference runs: broadcast centroids → map-assign →
  * hash-partition → shuffle → group-by-key → mean → compile → converge-check.
  * Here each iteration is ONE Spark job: the shuffle-free assignment
  * projection (Ops.assign) feeds a partial+final hash aggregate
  * (Ops.update) whose ≤K result rows are collected to the driver — the same
  * driver-held model state the reference keeps (`master.py:8-9`), which is
  * also how MLlib's KMeans iterates. The input is cached once; at 100 TB the
  * per-iteration cost is a single pass over the cached points with an
  * O(K × partitions)-row exchange.
  */
object Lloyd {

  /** Run Lloyd's algorithm on a (pid, x, y) DataFrame with first-K init.
    *
    * Convergence is id-joined max-movement ≤ tol (SURVEY.md §7.5); empty
    * clusters follow `cfg.emptyClusters` (Drop = reference-faithful shrink,
    * Keep = carry previous center).
    */
  def fit(points: DataFrame, cfg: KMeansConfig): KMeansResult2 = {
    require(cfg.k > 0, "k must be positive")
    val input = if (cfg.f32Wire) Ops.castF32(points) else points
    CachedInput(input)(fitCached(_, cfg))
  }

  /** Round a model through float32 — the reference's protobuf wire funnel
    * applied to the centroid list sent to every mapper (`master.py:64-66`).
    */
  private def roundF32(cs: Seq[Centroid2]): Seq[Centroid2] =
    cs.map(c => Centroid2(c.cid, c.x.toFloat.toDouble, c.y.toFloat.toDouble))

  private def fitCached(points: DataFrame, cfg: KMeansConfig): KMeansResult2 = {
    def wire(cs: Seq[Centroid2]) = if (cfg.f32Wire) roundF32(cs) else cs
    var centroids = wire(Ops.collectCentroids(Ops.initFirstK(points, cfg.k)))
    require(
      centroids.nonEmpty,
      s"fewer than 1 point available for k=${cfg.k} init")
    var iter = 0
    var done = false
    while (iter < cfg.maxIter && !done) {
      iter += 1
      val updated =
        wire(Ops.collectCentroids(Ops.update(Ops.assign(points, centroids))))
      val next = cfg.emptyClusters match {
        case EmptyClusterPolicy.Drop => updated
        case EmptyClusterPolicy.Keep =>
          // carry forward centers whose cluster captured nothing
          val seen = updated.map(_.cid).toSet
          (updated ++ centroids.filterNot(c => seen(c.cid))).sortBy(_.cid)
      }
      done = Ops.converged(centroids, next, cfg.tol)
      centroids = next
    }
    KMeansResult2(centroids, iter, done)
  }

  /** The final assignment under a fitted model (what the reference never
    * persists — cluster ids are dropped at `reducer.py:136-137`; we keep
    * them, SURVEY.md §7.5).
    */
  def transform(points: DataFrame, result: KMeansResult2): DataFrame =
    Ops.assign(points, result.centroids)

  /** Run exactly `iters` update steps with NO early stop, returning the
    * model after each step — the fixed-iteration form used by the unrolled
    * SQL oracle and the parity goldens (the reference effectively always
    * runs to max_iterations, SURVEY.md §4.3 defect 1).
    */
  def iterate(points: DataFrame, k: Int, iters: Int): Seq[Centroid2] = {
    // cached like fit: `iters` iterations cost `iters` passes over cached
    // partitions, not `iters` source re-scans (at 100 TB a 3-iteration run
    // would otherwise pay 3 full parquet reads)
    CachedInput(points) { cached =>
      var centroids = Ops.collectCentroids(Ops.initFirstK(cached, k))
      var i = 0
      while (i < iters) {
        centroids =
          Ops.collectCentroids(Ops.update(Ops.assign(cached, centroids)))
        i += 1
      }
      centroids
    }
  }

  /** [[iterate]] under the reference's float32 wire funnel
    * (`comm.proto:41,51-52`): input coordinates rounded through f32 once
    * (the mapper's parse), and every centroid list rounded through f32
    * before it is "sent" to the next assignment (the protobuf broadcast).
    * Fixed iterations, so it unrolls into an exact SQL oracle via
    * `CAST(CAST(x AS REAL) AS DOUBLE)` — the `p5_f32_lloyd` registry
    * entry; the f64 arithmetic BETWEEN wire points is unchanged.
    */
  def iterateF32(points: DataFrame, k: Int, iters: Int): Seq[Centroid2] = {
    // cache AFTER the f32 funnel so the rounded coordinates are what's
    // stored — each iteration re-reads the cached f32 points, not the
    // source (see [[iterate]] on why the cache matters at scale)
    CachedInput(Ops.castF32(points)) { fpts =>
      var centroids = roundF32(Ops.collectCentroids(Ops.initFirstK(fpts, k)))
      var i = 0
      while (i < iters) {
        centroids =
          roundF32(Ops.collectCentroids(Ops.update(Ops.assign(fpts, centroids))))
        i += 1
      }
      centroids
    }
  }
}

/** Caches a k-means loop's input for its repeated passes. Persists only a
  * frame whose plan is not cached yet and unpersists only what it
  * persisted, so a caller's own cache of the same plan survives the call.
  */
private[kmeans] object CachedInput {
  def apply[A](df: DataFrame)(body: DataFrame => A): A =
    if (df.storageLevel != StorageLevel.NONE) body(df)
    else {
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      try body(cached)
      finally cached.unpersist(blocking = false)
    }
}
