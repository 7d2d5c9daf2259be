package perfbench

/** Plain-Scala Lloyd's algorithm, independent of Spark, with the semantics
  * `graft.kmeans.Lloyd.fit` documents: first-K init in pid order, nearest
  * centroid with the lowest cid on ties, cluster means, empty clusters
  * dropped, and convergence when the cluster ids are unchanged and no
  * centroid moved more than `tol`.
  */
object RefLloyd {

  /** A fitted model: centroids as (cid, x, y) sorted by cid. */
  final case class Result(centroids: Seq[(Int, Double, Double)], iterations: Int)

  /** `xs(i), ys(i)` is the point with the i-th smallest pid. */
  def fit(xs: Array[Double], ys: Array[Double], k: Int, maxIter: Int, tol: Double): Result = {
    val n = xs.length
    require(ys.length == n && n > 0 && k > 0, "need points and k > 0")
    var cids = (0 until math.min(k, n)).toArray
    var cx = cids.map(xs(_))
    var cy = cids.map(ys(_))
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      iter += 1
      val m = cids.length
      val sx = new Array[Double](m)
      val sy = new Array[Double](m)
      val cnt = new Array[Long](m)
      var i = 0
      while (i < n) {
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < m) {
          val dx = xs(i) - cx(c)
          val dy = ys(i) - cy(c)
          val d = dx * dx + dy * dy
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        sx(best) += xs(i)
        sy(best) += ys(i)
        cnt(best) += 1
        i += 1
      }
      val kept = (0 until m).filter(cnt(_) > 0)
      val nCids = kept.map(cids(_)).toArray
      val nx = kept.map(c => sx(c) / cnt(c)).toArray
      val ny = kept.map(c => sy(c) / cnt(c)).toArray
      val moved = kept.indices.map { j =>
        val o = kept(j)
        math.sqrt((nx(j) - cx(o)) * (nx(j) - cx(o)) + (ny(j) - cy(o)) * (ny(j) - cy(o)))
      }.foldLeft(0.0)(math.max)
      done = kept.length == m && moved <= tol
      cids = nCids
      cx = nx
      cy = ny
    }
    Result(cids.indices.map(j => (cids(j), cx(j), cy(j))), iter)
  }
}
