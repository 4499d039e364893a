package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash-LSH band signatures of one shingle set, as a table function: emits one
  * `(band, sig)` row per band from a document's shingle array, in one pass over it.
  *
  * Hash family (the classic 2-universal affine construction): ONE md5 per
  * shingle, over its UTF-8 bytes; h1 = hex nibbles 1–7 and h2 = nibbles 8–14 of
  * the digest (28 bits each); hash i is `h1 + i·h2`, and `mh_i` is its minimum
  * over the set, for `i < numHashes`. Values stay < 2^28·(numHashes+1), so the
  * same integers come out of the SQL
  * `min(conv(substring(md5(s), 1, 7), 16, 10) + i * conv(substring(md5(s), 8, 7), 16, 10))`
  * over exploded shingle rows, and out of the DuckDB oracles (positional nibble
  * sums, see queries.QueryDSL.sqlHexInt). Band `b`'s `sig` is hashes
  * `b·bandSize .. (b+1)·bandSize − 1` as decimal strings joined by `'|'` — the
  * separator keeps variable-width integers from aliasing ("1"+"23" vs "12"+"3").
  * Hashes past the last whole band are not computed.
  *
  * A null or empty array emits no rows. Null elements are skipped, and an array
  * of nulls alone emits nothing.
  *
  * Deterministic, so Catalyst treats it like any generator: the Generate node
  * produces fresh `band`/`sig` attributes, and a predicate on them (the join's
  * inferred `isnotnull`) filters above it without re-deriving the signature.
  */
case class MinHashBands(child: Expression, numHashes: Int, bandSize: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(bandSize > 0 && numHashes >= bandSize,
    s"minhash_bands needs 0 < bandSize <= numHashes, got ($numHashes, $bandSize)")

  override def prettyName: String = "minhash_bands"

  override def elementSchema: StructType = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("sig", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.simpleString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return Iterator.empty
    val nBands = numHashes / bandSize
    val mins = MinHashBands.minima(arr, nBands * bandSize)
    if (mins == null) return Iterator.empty
    Iterator.tabulate(nBands)(b => InternalRow(b,
      UTF8String.fromString(mins.slice(b * bandSize, (b + 1) * bandSize).mkString("|"))))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBands {

  /** `minhash_bands(shingles, numHashes, bandSize)` → `(band, sig)` rows. */
  def apply(shingles: Column, numHashes: Int, bandSize: Int): Column =
    Bridge.column(MinHashBands(Bridge.expression(shingles), numHashes, bandSize))

  /** The `k` minima `min(h1 + i·h2)` over the array's non-null elements, or null
    * when it has none. */
  private def minima(arr: ArrayData, k: Int): Array[Long] = {
    val md = MessageDigest.getInstance("MD5")
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    var e = 0
    while (e < arr.numElements()) {
      if (!arr.isNullAt(e)) {
        val d = md.digest(arr.getUTF8String(e).getBytes)
        def u(j: Int): Long = (d(j) & 0xff).toLong
        val h1 = (u(0) << 20) | (u(1) << 12) | (u(2) << 4) | (u(3) >>> 4)
        val h2 = ((u(3) & 0x0f) << 24) | (u(4) << 16) | (u(5) << 8) | u(6)
        var v = h1
        var i = 0
        while (i < k) {
          if (v < mins(i)) mins(i) = v
          v += h2
          i += 1
        }
        seen = true
      }
      e += 1
    }
    if (seen) mins else null
  }
}
