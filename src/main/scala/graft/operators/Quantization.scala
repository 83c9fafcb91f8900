package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.int8_quantize

/** Embedding quantization: symmetric per-vector int8 code assignment
  * (q87) and flat product quantization with ADC ranking (q121).
  *
  * The int8 code assignment is `q_i = floor(x_i * scale + 0.5)` with
  * `scale = 127 / max_i |x_i|` — explicit half-up rounding written as
  * floor so every step (float->double widening, one double division, one
  * multiply-add, floor) is IEEE-exact and an external engine replays the
  * identical integers; the DuckDB oracle recomputes the codes
  * bit-for-bit. A zero (or empty) vector gets scale 0 and all-zero codes
  * rather than a divide-by-zero.
  */
object Quantization {

  /** Adds `scale` (double) and `q` (array<int>, values in [-127, 127]) for
    * `embCol` (array<float|double>). One pass over each vector via the
    * imperative [[graft.functions.Int8Quantize]] expression — map-only, no
    * shuffle, no per-row lambda materializations — with arithmetic exactly
    * replayable by an external engine (property-pinned against
    * [[quantizeHof]], the declarative twin the oracle mirrors).
    */
  def quantize(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("_iq", int8_quantize(col(embCol)))
      .withColumn("scale", col("_iq.scale"))
      .withColumn("q", col("_iq.q"))
      .drop("_iq")

  /** Declarative higher-order twin of [[quantize]] — three built-in HOFs
    * (transform/array_max/transform) spelling out the identical IEEE
    * steps. Kept as the parity reference for the imperative expression
    * and as the literal shape the DuckDB oracle transcribes.
    * Public entry point: reference twin of the `int8_quantize` expression that
    * specs compare against.
    */
  def quantizeHof(df: DataFrame, embCol: String): DataFrame = {
    val embD = transform(col(embCol), _.cast("double"))
    val maxabs = array_max(transform(embD, x => abs(x)))
    val scale = when(maxabs.isNull || maxabs === 0.0, lit(0.0))
      .otherwise(lit(127.0) / maxabs)
    df.withColumn("scale", scale)
      .withColumn("q",
        transform(embD, x => {
          // NaN anywhere (element -> product, or NaN scale poisoning the
          // whole vector): pin code 0 explicitly — the imperative twin
          // emits 0 there, and floor(NaN).cast("int") only matches it
          // under non-ANSI casting (ANSI mode throws), so the
          // property-pinned parity must not hinge on spark.sql.ansi
          val y = x * col("scale") + lit(0.5)
          when(isnan(y), lit(0)).otherwise(floor(y).cast("int"))
        }))
  }

  /** Train a product-quantization codebook (Jégou et al., TPAMI 2011):
    * the `dim`-dimensional space splits into `m` contiguous subspaces of
    * `dim/m` dimensions; per subspace, k-means over the corpus's
    * subvectors yields `ksub` centroids. Returns
    * `codebook(sub)(cid)(d)` — m*ksub*(dim/m) doubles, driver-held by
    * design like the IVF centroid table (kilobytes: the whole point is
    * that the codebook is tiny while the CODES carry the corpus).
    *
    * m sequential MLlib fits over column slices — the expensive,
    * driver-coordinated step; run once per corpus epoch and persist the
    * returned structure with the index, never per query.
    * Public entry point: trains the codebook [[pqEncode]] consumes; q121 uses a
    * synthetic one the oracle can re-derive.
    */
  def pqTrain(embs: DataFrame, embCol: String, m: Int, ksub: Int = 16,
      seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    val dim = embs.select(size(col(embCol))).head().getInt(0)
    require(m >= 1 && dim % m == 0,
      s"pq: m=$m must divide the embedding dim $dim")
    require(ksub >= 1 && ksub <= 256, "pq: 1 <= ksub <= 256 (one byte)")
    val dsub = dim / m
    (0 until m).map { sub =>
      val sliced = embs.select(
        org.apache.spark.ml.functions.array_to_vector(
          slice(col(embCol).cast("array<double>"),
            sub * dsub + 1, dsub)).as("__vec"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(ksub).setSeed(seed + sub).setMaxIter(5)
        .setFeaturesCol("__vec").setPredictionCol("__cell")
        .fit(sliced)
        .clusterCenters.map(_.toArray.toSeq).toSeq
    }
  }

  /** Adds `outCol`: the m one-byte PQ codes of `embCol` under `codebook`
    * — map-only, one [[graft.functions.PqEncode]] pass per row; the
    * codebook rides into codegen as a reference constant.
    */
  def pqEncode(df: DataFrame, embCol: String,
      codebook: Seq[Seq[Seq[Double]]], outCol: String = "pq"): DataFrame =
    df.withColumn(outCol,
      graft.functions.GraftFunctions.pq_encode(col(embCol), codebook))

  /** The query-side half of ADC: squared-L2 distance from each of the
    * query's m subvectors to each subspace centroid, rounded to 4
    * decimals (the battery's cross-engine pin). m*ksub doubles — computed
    * once per query on the driver, broadcast as a plan constant.
    */
  def pqDistanceTable(codebook: Seq[Seq[Seq[Double]]],
      qv: Array[Double]): Seq[Seq[Double]] = {
    val m = codebook.size
    val dsub = codebook.head.head.size
    require(qv.length == m * dsub,
      s"pq: query dim ${qv.length} != m*dsub = ${m * dsub}")
    codebook.zipWithIndex.map { case (centroids, sub) =>
      centroids.map { c =>
        var dist = 0.0
        var d = 0
        while (d < dsub) {
          val diff = qv(sub * dsub + d) - c(d)
          dist += diff * diff
          d += 1
        }
        // half-up, matching PqEncode's pin (rint would half-to-even)
        math.floor(dist * 1e4 + 0.5) / 1e4
      }
    }
  }

  /** ADC top-k: rank PQ-compressed vectors by approximate squared-L2
    * distance to an uncompressed query — the scan reads only the m-byte
    * code column, the per-row kernel is m table lookups
    * ([[graft.functions.PqAdc]]), and the top-k is a
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    * Ascending distance; ties break on id. Returns (idCol, dist).
    */
  def pqAdcTopK(encoded: DataFrame, idCol: String, pqCol: String,
      codebook: Seq[Seq[Seq[Double]]], qv: Array[Double], k: Int,
      excludeId: Long = Long.MinValue): DataFrame = {
    val dt = pqDistanceTable(codebook, qv)
    encoded.where(col(idCol) =!= excludeId)
      .select(col(idCol),
        round(graft.functions.GraftFunctions.pq_adc(col(pqCol), dt), 4)
          .as("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }
}
