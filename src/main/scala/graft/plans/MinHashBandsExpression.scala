package graft.plans

import graft.functions.Hashing
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression fusing MinHash signature computation and
  * LSH band folding over an `array<string>` shingle set → `array<long>`
  * of `bands` band-bucket hashes.
  *
  * Replaces the two chained Scala UDFs (`minhashUdf` ∘ `bandsUdf`) in the
  * MinHash-LSH path. A Scala UDF on `array<string>` deserializes every
  * row's Catalyst `UTF8String` elements into `java.lang.String` inside a
  * `Seq` (per-row allocation storm), and chaining two UDFs round-trips
  * the 64-long signature through a second SerDe. This expression hashes
  * the UTF8String bytes in place and emits signature + band fold as one
  * generated loop — the k×|shingles| hash mixes stay in registers, and
  * the per-row output is a primitive `UnsafeArrayData`.
  *
  * Parity: bit-identical to `Dedup.minhashSignature` + `Dedup.bandHashes`
  * (asserted in PlanExprSpec); the k permutation hashes are
  * `mix64(murmur64(shingle) ^ mix64(i))` with the per-i seed mixes
  * precomputed once per expression instance.
  *
  * Reference anchor: the reference's streaming MinHash lives driver-side
  * (amadeus-streaming); the distributed banded form is the scale path
  * (SURVEY §2 "Beyond the reference").
  */
case class MinHashBandsExpression(child: Expression, k: Int, bands: Int)
    extends UnaryExpression {

  /** Declared NON-deterministic although the kernel is pure — the guide
    * §4.4 discipline for expensive expressions (see
    * HtmlExtractExpression for the measured mechanism). Without it the
    * optimizer duplicates this kernel wholesale: InferFiltersFromGenerate
    * plants a `size(kernel(...)) > 0` filter under every explode (a full
    * second corpus pass), predicate pushdown inlines it into compiled
    * Filter conditions (no codegen CSE), and CollapseProject inlines it
    * into every consumer. Measured (r17, sf10 subset, stable anchor):
    * d02 −22%, d07 −19%, d21 −39% from the flag alone. Results are
    * unchanged — the kernel is a pure function of its input. */
  override lazy val deterministic: Boolean = false

  require(k > 0 && bands > 0 && k % bands == 0,
    s"minhash_bands: k ($k) must be a positive multiple of bands ($bands)")


  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_bands requires array<string>, got ${other.simpleString(10)}")
    }

  /** mix64(i) for i < k, precomputed — halves the mixes per element. */
  private lazy val seedMixes: Array[Long] =
    Array.tabulate(k)(i => Hashing.mix64(i.toLong))

  private val rowsPerBand = k / bands

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(k)(Long.MaxValue)
    val seeds = seedMixes
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val base = Hashing.hashBytes(arr.getUTF8String(i).getBytes, 0x1234L)
        var j = 0
        while (j < k) {
          val h = Hashing.mix64(base ^ seeds(j))
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L ^ b.toLong
      var r = 0
      while (r < rowsPerBand) { h = (h ^ sig(b * rowsPerBand + r)) * 0x100000001b3L; r += 1 }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hashing = Hashing.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val seeds = ctx.addReferenceObj("seedMixes", seedMixes, "long[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      val h = ctx.freshName("h")
      val base = ctx.freshName("base")
      val bandArr = ctx.freshName("bandArr")
      s"""
         |long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    long $base = $hashing.hashBytes($arr.getUTF8String($i).getBytes(), 0x1234L);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $h = $hashing.mix64($base ^ $seeds[$j]);
         |      if ($h < $sig[$j]) $sig[$j] = $h;
         |    }
         |  }
         |}
         |long[] $bandArr = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $h = 0xcbf29ce484222325L ^ (long) $b;
         |  for (int $r = 0; $r < $rowsPerBand; $r++) {
         |    $h = ($h ^ $sig[$b * $rowsPerBand + $r]) * 0x100000001b3L;
         |  }
         |  $bandArr[$b] = $h;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($bandArr);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandsExpression =
    copy(child = newChild)
  override def prettyName: String = "minhash_bands"
}

object MinHashBandsExpression {

  /** Column API (the function comes from [[graft.GraftExtensions]]). */
  def minhashBands(shingles: Column, k: Int, bands: Int): Column =
    org.apache.spark.sql.functions.call_function("minhash_bands", shingles,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(bands))
}
