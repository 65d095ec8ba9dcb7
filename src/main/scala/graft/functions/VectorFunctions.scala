package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType|DoubleType)` embedding columns.
  *
  * Built on Spark's higher-order functions (`zip_with`, `aggregate`,
  * `transform`) — native Catalyst expressions, no UDF serialization, null-safe.
  * All arithmetic is promoted to double so results are reproducible across
  * engines (the DuckDB oracle casts to DOUBLE[] the same way).
  */
object VectorFunctions {

  private def d(c: Column): Column = transform(c, _.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), _ * _), lit(0.0), _ + _)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  def euclidean(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y)), lit(0.0), _ + _))

  private def constArray(v: Array[Double]): Column = array(v.toIndexedSeq.map(lit): _*)

  /** Cosine similarity to a constant query vector (broadcast as a literal —
    * zero shuffle, evaluated inside codegen'd projection). */
  def cosineToConst(a: Column, v: Array[Double]): Column = {
    val n = math.sqrt(v.map(x => x * x).sum)
    aggregate(zip_with(d(a), constArray(v), _ * _), lit(0.0), _ + _) / (norm(a) * lit(n))
  }

  def euclideanToConst(a: Column, v: Array[Double]): Column =
    sqrt(aggregate(zip_with(d(a), constArray(v), (x, y) => (x - y) * (x - y)), lit(0.0), _ + _))

  /** `numPlanes` random hyperplanes in `dim` dimensions, drawn row by row
    * from `new Random(seed)` — so reruns (and the test oracles) agree. The
    * one plane generator of every hyperplane-LSH arm: embedding blocking,
    * embedding-blocked equijoin, embedding dedup and LSH search. */
  def planes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rng.nextGaussian())
  }

  /** Random-hyperplane sign sketch (Charikar 2002) of `emb`: bit i is set
    * when `emb` lies on the positive side of `planes(i)`. Equal sketches
    * form an LSH bucket; two vectors agree on a bit with probability
    * 1 - angle / pi. At most 64 planes fit the Long. */
  def sketch(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(emb, constArray(p)) > 0, 1L).otherwise(0L) * (1L << i)
    }.reduce(_ + _)

  /** Matryoshka truncation (Kusupati et al. 2022, the MRL recipe every
    * current embedding API exposes as `dimensions=`): keep the first
    * `dim` components and L2-renormalize, so cosine on the truncated
    * vectors stays a unit-sphere cosine. The ANN cost tier: search
    * coarse at dim 64, re-rank exact at full width — pure slice +
    * fold expressions, zero shuffle, rounded 6 for oracle parity. A
    * zero-norm prefix yields a zero vector (not NaN). */
  def truncateNormalize(a: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val head = slice(d(a), 1, dim)
    val n = sqrt(aggregate(head, lit(0.0), (acc, x) => acc + x * x))
    transform(head, x =>
      round(when(n > 0.0, x / n).otherwise(lit(0.0)), 6))
  }
}
