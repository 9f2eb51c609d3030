package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.IntVec

/** The frozen IVF-PQ index model — the library-facing half of the
  * `ann_ivfpq` pipeline: a trained coarse-cell matrix plus the per-
  * subspace PQ codebooks, applied as ONE stateless map from (vec_id,
  * embedding) rows to (vec_id, cluster, codes) index rows — the batch
  * corpus table's exact schema. Because encoding is stateless, the same
  * model encodes a batch corpus and a STREAMING micro-batch identically —
  * the production index-append path: new embeddings arrive, are routed
  * to their cell and compressed to code ids against the frozen codebook,
  * and land in the cell-partitioned code table the search side scans
  * (cell partitioning = the file-level skipping `ann_ivfpq`'s broadcast
  * hash join does hash-side at query time). Retraining cadence is the
  * caller's policy; between refits the model is a broadcast-sized
  * closure (cells×64 + 16×16×4 longs).
  *
  * Arithmetic parity: quantization, distances and argmins are
  * [[graft.functions.IntVec]]'s, the same as the trainers', so an encode
  * of the training corpus reproduces the fit pipeline's own assignments
  * bit-for-bit (gated in StreamingSpec).
  *
  * @param cells    coarse centroid matrix, ×10⁶ integer space
  * @param codebook [subspace][code][dim] PQ centroids, ×10⁶ integer space
  */
final case class IvfPqModel(cells: Array[Array[Long]],
    codebook: Array[Array[Array[Long]]]) extends Serializable {

  /** The model's embedding dimensionality — every input must match it. */
  def dim: Int = cells(0).length

  private def quantize(emb: Seq[Float]): Array[Long] = {
    // fail loudly ON THE RECORD with an actionable message: a null or
    // short vector would otherwise kill the micro-batch with a bare
    // NPE/index error (and poison restarts), a long one would silently
    // encode with the wrong subspace stride
    require(emb != null,
      "null embedding reached the encoder — filter or impute upstream")
    require(emb.length == dim,
      s"embedding dim ${emb.length} != model dim $dim")
    IntVec.quantize(emb)
  }

  private def encodeCodes(qv: Array[Long]): Array[Long] = {
    val subDim = dim / codebook.length // model geometry, never input-derived
    Array.tabulate(codebook.length)(sub => IntVec.nearest(qv, sub * subDim, codebook(sub)).toLong)
  }

  /** Encode (vec_id, embedding) rows — batch or streaming — into index
    * rows (vec_id, cluster, codes). Stateless map: safe under any
    * streaming output mode, no shuffle introduced. Column names AND
    * types match the batch corpus table (`LlmOps.ivfPqCorpus`:
    * cluster INT, codes ARRAY<BIGINT>) exactly, so streamed appends
    * land schema-compatible with the table the search side scans —
    * a rename-or-cast at the append site would be the silent-drift
    * trap the StreamingSpec parity gate exists to prevent. */
  def encode(df: DataFrame): DataFrame = {
    val encodeU = udf((emb: Seq[Float]) => {
      val qv = quantize(emb)
      (IntVec.nearest(qv, 0, cells), encodeCodes(qv).toSeq)
    })
    df.select(col("vec_id"), encodeU(col("embedding")).as("e"))
      .select(col("vec_id"), col("e._1").as("cluster"), col("e._2").as("codes"))
  }
}

/** Trainers for [[IvfPqModel]] — the library-facing fit over ANY
  * (vec_id BIGINT, embedding ARRAY<FLOAT>) frame (the engine's own
  * `ann_ivf` / `ann_ivfpq` / `embedding_pq` / `ann_pq_adc` keys train
  * through exactly these functions on the fixture tables, so the public
  * path IS the oracled path). All arithmetic is [[graft.functions.IntVec]]'s
  * exact ×10⁶ integer space and Lloyd round over a deterministic
  * hash-ordered sample — two fits on the same frame produce the
  * identical model.
  */
object IvfPqIndex {

  /** Coarse-cell centroids: bottom-`sampleCap` corpus-spread sample by
    * the decimal-Knuth hash of vec_id (planned as TakeOrdered — no
    * global sort), then [[CoarseQuantizer.fitInt]]'s local integer
    * Lloyd. A handful of centroids never justifies distributed passes;
    * corpus ASSIGNMENT stays distributed at the call sites. */
  def fitCells(vecs: DataFrame, nCells: Int, iters: Int = 5,
      sampleCap: Int = 65536): Array[Array[Long]] = {
    val sampleHash =
      "cast(cast(vec_id as decimal(19,0)) * 2654435761 % 4294967296 as bigint)"
    val fitSample = vecs
      .orderBy(expr(sampleHash), col("vec_id")).limit(sampleCap)
      .select("embedding").collect()
      .map(r => IntVec.quantize(r.getSeq[Float](0)))
    CoarseQuantizer.fitInt(fitSample, nCells, iters)
  }

  /** A completed trainer run: the codebook rows (sub, code, centroid),
    * the CACHED per-(vec, sub) encode frame, the cached quantized corpus
    * and subspace frames, and `retire` — which unpersists exactly the
    * caches THIS run created (a plan another owner had already cached is
    * not touched; the Caching.scala ownership contract). */
  private[graft] final case class PqFit(cent: Seq[((Int, Long), Seq[Long])],
      encoded: DataFrame, v: DataFrame, subv: DataFrame, retire: () => Unit)

  /** The (sub, code, centroid) rows as the [subspace][code][dim] matrix —
    * ONE assembly shared by [[fit]] and the engine's session-memoized
    * model accessor, so the codebook layout cannot drift between them. */
  private[graft] def codebookMatrix(cent: Seq[((Int, Long), Seq[Long])],
      subspaces: Int): Array[Array[Array[Long]]] = {
    val bySub = cent.groupBy(_._1._1)
    Array.tabulate(subspaces)(sub =>
      bySub(sub).sortBy(_._1._2).map(_._2.toArray).toArray)
  }

  /** The full PQ trainer: quantize, slice into `subspaces`×`subDim`
    * subspaces, seed from the `codes` lowest vec_ids, run `rounds`
    * integer-Lloyd rounds with the codebook as driver model state.
    * The query layer consumes the returned frames; [[fit]] wraps this
    * for model-only training and calls `retire`. */
  private[graft] def fitDetailed(vecs: DataFrame, subspaces: Int,
      subDim: Int, codes: Int, rounds: Int): PqFit = {
    val owned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val already = df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
      val out = graft.Caching.ensureCached(df)
      if (!already) owned += out
      out
    }
    val v = pin(vecs
      .select(col("vec_id"), expr(IntVec.quantizeSpark("embedding")).as("qv")))
    val subv = pin(v
      .select(col("vec_id"), explode(expr(s"sequence(0, ${subspaces - 1})")).as("sub"),
        col("qv"))
      .withColumn("sv", expr(s"slice(qv, sub * $subDim + 1, $subDim)"))
      .drop("qv"))
    // seeds: the `codes` lowest-vec_id vectors' subspace slices
    // (kmeans_iter's deterministic TakeOrdered seeding, per subspace)
    val seedRows = v.orderBy("vec_id").limit(codes).collect().toSeq
    // a corpus below `codes` vectors would seed a partial codebook and
    // silently diverge from the fixed distance-table layout consumers
    // index into (sub*codes + c) — fail loudly instead
    require(seedRows.length == codes,
      s"IVF-PQ codebook needs >= $codes vectors to seed, got ${seedRows.length}")
    var cent: Seq[((Int, Long), Seq[Long])] = seedRows
      .sortBy(_.getLong(0)).zipWithIndex.flatMap { case (r, c) =>
        val qv = r.getSeq[Long](1)
        (0 until subspaces).map(sub =>
          ((sub, c.toLong), qv.slice(sub * subDim, (sub + 1) * subDim)))
      }
    // assignment is a compiled-UDF argmin over the closure-captured
    // codebook (the ann_ivf assignU pattern): one MAP-ONLY pass over the
    // subspace rows, no centroid fan-out join and no (vec_id, sub)
    // argmin shuffle per round — the join+min(struct) form measured 4.0 s
    // vs 1.5 s for this shape at sf0.1.
    def assignAgainst(cs: Seq[((Int, Long), Seq[Long])]) = {
      val bySub = codebookMatrix(cs, subspaces) // the ONE assembly
      val assignU = udf((sub: Int, sv: Seq[Long]) => {
        val q = sv.toArray
        val cents = bySub(sub)
        val c = IntVec.nearest(q, 0, cents)
        (c.toLong, IntVec.sqL2(q, 0, cents(c)))
      })
      subv.withColumn("m", assignU(col("sub"), col("sv")))
        .select(col("vec_id"), col("sub"), col("m._1").as("c"),
          col("m._2").as("d2"), col("sv"))
    }
    // `rounds` full Lloyd rounds (assign vs cent_{r-1}, update → cent_r),
    // then ONE encoding assignment against the final codebook — the
    // a1..aN + af structure of the generated oracle, aligned round for
    // round
    for (_ <- 1 to rounds)
      cent = IntVec.lloydUpdate(assignAgainst(cent), Seq("sub", "c"), "sv", cent)(
        r => (r.getInt(0), r.getLong(1)))
    val encoded = pin(assignAgainst(cent).drop("sv"))
    PqFit(cent, encoded, v, subv,
      () => owned.foreach(_.unpersist(blocking = false)))
  }

  /** Train a complete [[IvfPqModel]] on any (vec_id, embedding) frame.
    * Model-only: the caches THIS fit created are retired before
    * returning (a query layer that also wants the encode frames uses
    * `fitDetailed` and owns them). Validates the frame up front: a
    * non-empty corpus, NO null embeddings, and ONE consistent embedding
    * dimensionality that divides into `subspaces` — a mixed-dim or
    * null-bearing frame would otherwise fail nondeterministically
    * mid-job inside the sample collect or the assignment UDF. */
  def fit(vecs: DataFrame, nCells: Int = 16, subspaces: Int = 16,
      codes: Int = 16, rounds: Int = 3): IvfPqModel = {
    val dims = vecs.agg(
      min(size(col("embedding"))), max(size(col("embedding"))),
      count(lit(1)), count(col("embedding"))).head()
    require(!dims.isNullAt(0), "cannot fit an IVF-PQ model on an empty frame")
    require(dims.getLong(2) == dims.getLong(3),
      s"${dims.getLong(2) - dims.getLong(3)} row(s) have a NULL embedding — " +
        "filter or impute before fitting")
    val (dmin, dmax) = (dims.getInt(0), dims.getInt(1))
    require(dmin == dmax,
      s"embedding dimensionality is not uniform: min $dmin, max $dmax")
    require(dmin % subspaces == 0,
      s"embedding dim $dmin is not divisible into $subspaces subspaces")
    val cells = fitCells(vecs, nCells)
    val f = fitDetailed(vecs, subspaces, dmin / subspaces, codes, rounds)
    f.retire()
    IvfPqModel(cells, codebookMatrix(f.cent, subspaces))
  }
}
