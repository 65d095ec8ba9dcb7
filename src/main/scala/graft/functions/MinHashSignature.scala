package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, sequence, slice, transform, xxhash64}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** MinHash signature as a native Catalyst expression: for an array of
  * 64-bit shingle hashes, computes `numPerms` permutation minima in one
  * fused primitive loop (JIT-friendly, inside WholeStageCodegen).
  *
  * Permutation p applies MurmurHash3's fmix64 finalizer (public domain) to
  * `h + p * GOLDEN`, a standard cheap family of independent-enough hash
  * permutations. The declarative equivalent — nested
  * `transform(sequence(...), p -> array_min(transform(sh, ...)))` — is
  * evaluated interpreted per lambda call; at 64 perms x ~100 shingles per
  * document that interpretation dominated the whole MinHash stage.
  */
case class MinHashSignature(child: Expression, numPerms: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature needs array<bigint>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var p = 0
      while (p < numPerms) {
        val m = MinHashSignature.fmix64(h + p * MinHashSignature.Golden)
        if (m < mins(p)) mins(p) = m
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val x = ctx.freshName("x")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $a.numElements();
         |long[] $mins = new long[$numPerms];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $p = 0; $p < $numPerms; $p++) {
         |    long $x = $h + $p * ${MinHashSignature.Golden}L;
         |    $x ^= $x >>> 33; $x *= ${MinHashSignature.C1}L;
         |    $x ^= $x >>> 33; $x *= ${MinHashSignature.C2}L;
         |    $x ^= $x >>> 33;
         |    if ($x < $mins[$p]) $mins[$p] = $x;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  val Golden: Long = 0x9E3779B97F4A7C15L
  val C1: Long = 0xFF51AFD7ED558CCDL
  val C2: Long = 0xC4CEB9FE1A85EC53L

  /** MurmurHash3 fmix64 finalizer (public domain). */
  def fmix64(v: Long): Long = {
    var x = v
    x ^= x >>> 33; x *= C1
    x ^= x >>> 33; x *= C2
    x ^= x >>> 33
    x
  }

  def apply(shingleHashes: Column, numPerms: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingleHashes), numPerms))

  /** LSH band keys of a signature column: `numBands` keys, key b the
    * xxhash64 of band b's slice of `numPerms / numBands` minima, salted
    * with b. Two documents at Jaccard s share a given band key with
    * probability s^(numPerms / numBands). The one band-key kernel of batch
    * MinHash dedup, the stored signature table and the streaming near-dup
    * gates; callers `posexplode` it or pair each key with its index. */
  def bandKeys(sig: Column, numPerms: Int, numBands: Int): Column = {
    require(numPerms % numBands == 0, "numPerms must be divisible by numBands")
    val rowsPerBand = numPerms / numBands
    transform(sequence(lit(0), lit(numBands - 1)),
      b => xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))
  }
}
