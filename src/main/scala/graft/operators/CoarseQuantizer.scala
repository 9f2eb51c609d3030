package graft.operators

import graft.functions.IntVec

/** Driver-side deterministic integer Lloyd's algorithm for IVF coarse
  * quantizers.
  *
  * An IVF index needs k (here 16) centroids, not a clustering
  * deliverable — training on a bounded sample is the standard practice
  * (FAISS trains its quantizers on a capped sample for the same reason).
  * A distributed KMeans fit costs one full job per Lloyd pass plus
  * pipeline overhead; for k*dim values learned from a sample that is
  * collected anyway under a hard row bound, the whole fit is a few
  * million integer ops — microseconds on the driver, zero Spark jobs.
  * Assignment of the FULL corpus to centroids stays distributed (one
  * map-side pass, see call site).
  *
  * Init is the first k rows of the caller's deterministic sample order,
  * and every step is [[IntVec]]'s exact ×10⁶ integer arithmetic: nearest
  * centroid with ties to the lowest index, truncating integer means, and
  * a cluster that goes empty keeps its previous centroid. A SQL oracle
  * replays it bit-for-bit (`IntVec.lloydDuck`).
  */
object CoarseQuantizer {

  /** `sample` row-major ×10⁶-quantized vectors in the caller's
    * deterministic order (all same dim); returns k integer centroids. */
  def fitInt(sample: Array[Array[Long]], k: Int, iters: Int): Array[Array[Long]] = {
    require(sample.nonEmpty, "quantizer fit needs a non-empty sample")
    val n = sample.length
    val dim = sample(0).length
    // init: the first min(k, n) rows of the caller's sample order
    val centroids = Array.tabulate(math.min(k, n))(c => sample(c).clone())
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) { assign(i) = IntVec.nearest(sample(i), 0, centroids); i += 1 }
      // update: truncating integer mean (Long `/` truncates toward zero,
      // same as DuckDB `//` on the oracle side)
      val sums = Array.fill(centroids.length)(new Array[Long](dim))
      val counts = new Array[Long](centroids.length)
      i = 0
      while (i < n) {
        val a = assign(i); val v = sample(i); var j = 0
        val s = sums(a)
        while (j < dim) { s(j) += v(j); j += 1 }
        counts(a) += 1
        i += 1
      }
      var cc = 0
      while (cc < centroids.length) {
        if (counts(cc) > 0L) {
          var j = 0
          while (j < dim) { centroids(cc)(j) = sums(cc)(j) / counts(cc); j += 1 }
        } // empty cluster: keep previous centroid
        cc += 1
      }
      it += 1
    }
    centroids
  }
}
