package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.functions.IntVec

/** Multimodal-column plumbing (north-star `[N]`): image/audio/video are
  * opaque `binary` columns with typed metadata; decode / feature-extract is
  * a per-partition batch operation so a real decoder (JNI image lib, ffmpeg
  * pipe, ONNX runtime) amortises its setup once per partition — the Spark
  * side (schema, partitioning, batch shape) is real and tested; only the
  * byte-level decode is a deterministic STUB because no media libraries
  * ship in this environment.
  */
object Multimodal {

  /** Attach an opaque media column + typed metadata struct to a text table.
    * (With real data the binary comes off the wire / object store as-is.)
    */
  def withMedia(docs: DataFrame): DataFrame =
    docs
      .withColumn("media", encode(col("text"), "UTF-8"))
      .withColumn("media_meta", struct(
        octet_length(col("media")).as("n_bytes"),
        lit("utf8-text").as("format"),
        (col("doc_id") % 3).cast("int").as("channel")))

  case class MediaRow(doc_id: Long, media: Array[Byte])
  case class MediaFeatures(doc_id: Long, n_bytes: Int, head_sum: Long,
      byte_entropy_q: Int, decoder: String)

  /** Per-partition decode + featurize. Deterministic, no driver round-trip,
    * no shuffle: runs wherever the media partition already lives.
    */
  def decodeFeatures(spark: SparkSession, df: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    df.select(col("doc_id"), col("media")).as[MediaRow].mapPartitions { it =>
      // STUB decoder: a real implementation opens the codec ONCE here
      // (per partition), then decodes each record's bytes. The fake below
      // is deterministic so tests and rows-only checks are stable.
      it.map { r =>
        val head = r.media.take(64).map(_ & 0xff)
        val counts = new Array[Int](256)
        r.media.foreach(b => counts(b & 0xff) += 1)
        val distinct = counts.count(_ > 0)
        MediaFeatures(r.doc_id, r.media.length, head.map(_.toLong).sum,
          distinct, "stub-v1")
      }
    }
  }

  /** Sign of deterministic hyperplane entry (p, j): the top bit of the
    * Knuth multiplicative hash of the flat plane index
    * (p·64 + j + 1)·2654435761 mod 2³² — the SAME ±1 plane family as
    * `embedding_project`'s JL projection (Features.jlSign delegates here),
    * extended from 8 to 24 planes. Pure integer arithmetic, identical as
    * Spark literals and as inline DuckDB SQL; no RNG anywhere.
    */
  def planeSign(p: Int, j: Int): Long = {
    val h = (BigInt(p.toLong * 64 + j + 1) * BigInt(2654435761L)) mod BigInt(4294967296L)
    if (h < BigInt(2147483648L)) 1L else -1L
  }

  /** Sign of LSH hyperplane entry (p, j): [[planeSign]]'s Knuth hash plus
    * an avalanche round — xor-fold the top half down, then multiply by the
    * 31-bit mixing constant 0x7feb352d (lowbias32 family; 31-bit so the
    * DuckDB-side INT64 product cannot overflow). The extra round matters:
    * consecutive flat indices step by the golden-ratio constant, so the
    * raw Knuth top bit makes every plane a window of ONE quasi-periodic
    * ±1 sequence — correlated planes cost real LSH recall (measured:
    * knn_label_ann agreement 0.70 raw vs 0.84 mixed; balance 747/1536
    * positive, mean plane-pair agreement 0.50). Pure integer arithmetic,
    * bit-identical as Spark literals and inline DuckDB SQL.
    */
  def lshPlaneSign(p: Int, j: Int): Long = {
    val m32 = BigInt(4294967296L)
    val h = (BigInt(p.toLong * 64 + j + 1) * BigInt(2654435761L)) mod m32
    val g = ((h ^ (h >> 16)) * BigInt(2146121005L)) mod m32
    if (g < BigInt(2147483648L)) 1L else -1L
  }

  /** 32 deterministic ±1 hyperplanes packed into a 32-bit sign signature —
    * the bucketing primitive for LSH ANN (`ann_lsh_bucket` 8×4-bit bands,
    * `knn_label_ann` 10×3-bit). The planes are [[lshPlaneSign]] hash
    * signs over [[IntVec]]-quantized integer components, not seeded
    * Gaussians, which makes the signature — and therefore both ANN keys —
    * bit-exact cross-engine and fully oracle-checkable. Shapes swept on
    * the fixture (sf0.001, 50 probes): ann 8×4 recall@3 0.66 at 41% avg
    * candidates (6×4: 0.58/33%); knn 10×3 label agreement 0.88 at 72%
    * (8×3 reaches 0.74 under ±1 planes — hash signs discriminate slightly
    * worse than Gaussians per plane, so both keys buy recall back with
    * more planes, not coarser bands).
    *
    * WHY A UDF and not the flat-literal codegen expression
    * embedding_project uses: at 8×64 = 512 terms the flat form is the fast
    * path, but this signature is 32×64 = 2048 terms + 32 case-whens, and
    * that ~4k-node tree gets duplicated into both join branches of the
    * banded candidate join — measured at sf0.1: 5.3 s initial
    * planning, ~5 s STEADY per run (AQE re-optimizes the tree per stage
    * and Janino recompiles the giant generated methods), vs ~1 s total
    * with this compiled UDF computing the identical integer arithmetic.
    * The sign matrix is built once from [[lshPlaneSign]] — the same
    * formula the DuckDB twin [[lshSigSql]] evaluates inline, so the
    * hash-exact oracle parity is unchanged (verified at sf0.01).
    */
  lazy val lshSigUdf: UserDefinedFunction = {
    val signs: Array[Array[Long]] =
      Array.tabulate(32, 64)((p, j) => lshPlaneSign(p, j))
    udf((emb: Seq[Float]) => {
      var sig = 0L
      var p = 0
      val n = math.min(emb.length, 64)
      while (p < 32) {
        val row = signs(p)
        var acc = 0L
        var j = 0
        while (j < n) {
          acc += row(j) * IntVec.quantize(emb(j))
          j += 1
        }
        if (acc > 0) sig |= (1L << p)
        p += 1
      }
      sig
    })
  }

  /** DuckDB twin of [[lshSigUdf]] (nested-HOF form over a `qv` column —
    * oracle-side only, where the 500-row sf0.01 corpus makes the
    * per-element lambda cost irrelevant). The repeated Knuth-hash
    * subexpression is [[lshPlaneSign]]'s `h` — a lambda can't bind a
    * local, so it appears twice inside the xor.
    */
  val lshSigSql: String =
    """CAST(list_sum(list_transform(generate_series(0, 31), p ->
      |      CASE WHEN list_sum(list_transform(generate_series(0, 63), j ->
      |          (CASE WHEN ((xor(((p * 64 + j + 1) * 2654435761) % 4294967296,
      |                           (((p * 64 + j + 1) * 2654435761) % 4294967296) >> 16))
      |                      * 2146121005) % 4294967296 < 2147483648
      |           THEN 1 ELSE -1 END) * qv[j + 1])) > 0
      |      THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
}
