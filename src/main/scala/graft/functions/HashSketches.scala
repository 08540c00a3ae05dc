package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions.
  *
  * The composed forms (`transform`/`aggregate` higher-order functions)
  * evaluate an interpreted lambda per array element — measured ~13M
  * interpreted calls for the sf0.1 minhash (18s). These expressions do
  * the same math in one tight JVM loop per row (CodegenFallback: the row
  * call is interpreted, the inner loop is plain JVM code — the per-element
  * lambda plumbing is what's being eliminated).
  *
  * Semantics are bit-identical to the composed forms and the DuckDB
  * oracle: md5("<seed>:<shingle>") minima compared bytewise (hex order ==
  * unsigned byte order), simhash majority votes per bit.
  */
object HashSketches {

  private def md5Threadsafe(): MessageDigest = MessageDigest.getInstance("MD5")

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = HexChars(b >>> 4)
      out(i * 2 + 1) = HexChars(b & 0x0f)
      i += 1
    }
    new String(out)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  /** array<string> shingles -> array<string> of `numHashes` md5-hex
    * minima, seed s hashing "s:<shingle>".
    */
  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_signature requires array<string>, got ${other.sql}")
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "minhash_signature"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      val md = md5Threadsafe()
      val prefixes = Array.tabulate(numHashes)(s => (s.toString + ":").getBytes("UTF-8"))
      val mins = new Array[Array[Byte]](numHashes)
      var i = 0
      while (i < n) {
        val el = arr.getUTF8String(i).getBytes
        var s = 0
        while (s < numHashes) {
          md.reset()
          md.update(prefixes(s))
          md.update(el)
          val dig = md.digest()
          if (mins(s) == null || unsignedLess(dig, mins(s))) mins(s) = dig
          s += 1
        }
        i += 1
      }
      new GenericArrayData(mins.map(b => UTF8String.fromString(hex(b)).asInstanceOf[Any]))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** array<long> token hashes -> packed simhash over `bits` bit
    * positions (majority vote per bit).
    */
  case class SimHashPack(child: Expression, bits: Int)
      extends UnaryExpression with CodegenFallback {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash_pack requires array<bigint>, got ${other.sql}")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash_pack"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val votes = new Array[Long](bits)
      var i = 0
      while (i < n) {
        val h = arr.getLong(i)
        var b = 0
        while (b < bits) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
        i += 1
      }
      var packed = 0L
      var b = 0
      while (b < bits) {
        if (votes(b) > 0) packed |= (1L << b)
        b += 1
      }
      java.lang.Long.valueOf(packed)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def register(spark: SparkSession): Unit = {
    registerOnce(spark, "graft_minhash_signature")(exprs => MinHashSignature(
      exprs(0), exprs(1).eval().asInstanceOf[Number].intValue()))
    registerOnce(spark, "graft_simhash_pack")(exprs => SimHashPack(
      exprs(0), exprs(1).eval().asInstanceOf[Number].intValue()))
  }

  def minhashSignature(spark: SparkSession, shingles: Column, numHashes: Int): Column = {
    register(spark)
    call_function("graft_minhash_signature", shingles, lit(numHashes))
  }

  def simhashPack(spark: SparkSession, tokenHashes: Column, bits: Int): Column = {
    register(spark)
    call_function("graft_simhash_pack", tokenHashes, lit(bits))
  }
}
