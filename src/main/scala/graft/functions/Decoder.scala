package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * System UDFs: binary decode + COMP-3 (IBM packed-decimal) support.
 *
 * Reference: functions/Decoder.scala (bytes_to_hex :14-28, bytes_to_string
 * :33-37, com3_to_double :42-49, com3_to_int :54-61) and
 * functions/BinarySplitter.scala:14-37 (binary_split). Implementations are
 * written from the public COMP-3 format description (low nibble of last
 * byte = sign: 0xC/0xF positive, 0xD negative; each other nibble a decimal
 * digit), not copied.
 */
object Decoder {

  def bytesToHex(bytes: Array[Byte]): String =
    if (bytes == null) null else bytes.map(b => f"$b%02x").mkString

  def bytesToString(bytes: Array[Byte], charset: String): String =
    if (bytes == null) null else new String(bytes, charset)

  /** Packed-decimal (COMP-3) → unscaled Long. Throws on invalid nibbles. */
  private def comp3Unscaled(bytes: Array[Byte]): (Long, Int) = {
    var value = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      val hi = b >> 4
      val lo = b & 0x0f
      require(hi <= 9, s"invalid COMP-3 digit nibble: $hi")
      value = value * 10 + hi
      if (i == bytes.length - 1) {
        // last low nibble is the sign
        require(lo >= 0x0a, s"invalid COMP-3 sign nibble: $lo")
      } else {
        require(lo <= 9, s"invalid COMP-3 digit nibble: $lo")
        value = value * 10 + lo
      }
      i += 1
    }
    // packed-decimal sign nibbles: 0xB and 0xD are negative; A/C/E/F positive
    val signNibble = bytes(bytes.length - 1) & 0x0f
    val sign = if (signNibble == 0x0d || signNibble == 0x0b) -1 else 1
    (value, sign)
  }

  def com3ToDouble(bytes: Array[Byte], scale: Int): Double = {
    if (bytes == null || bytes.isEmpty) return 0.0
    val (v, sign) = comp3Unscaled(bytes)
    sign * v / math.pow(10, scale)
  }

  def com3ToInt(bytes: Array[Byte]): Int = {
    if (bytes == null || bytes.isEmpty) return 0
    val (v, sign) = comp3Unscaled(bytes)
    (sign * v).toInt
  }

  /** Split a byte array on a byte-sequence delimiter
   *  (reference: functions/BinarySplitter.scala:14-37). */
  def binarySplit(bytes: Array[Byte], delimiter: Array[Byte]): Array[Array[Byte]] = {
    if (bytes == null) return null
    if (delimiter == null || delimiter.isEmpty) return Array(bytes)
    val parts = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var start = 0
    var i = 0
    while (i <= bytes.length - delimiter.length) {
      var j = 0
      while (j < delimiter.length && bytes(i + j) == delimiter(j)) j += 1
      if (j == delimiter.length) {
        parts += java.util.Arrays.copyOfRange(bytes, start, i)
        i += delimiter.length
        start = i
      } else i += 1
    }
    parts += java.util.Arrays.copyOfRange(bytes, start, bytes.length)
    parts.toArray
  }
}

/**
 * Registry for the system UDFs, auto-invoked per session
 * (reference: common/UdfRegister.scala:24-36; docs/system-udfs.md), plus the
 * custom-UDF registration hook (`UdfRegister.register(prefix)`,
 * common/UdfRegister.scala:8-17).
 */
object UdfRegistry {
  import org.apache.spark.sql.functions.udf

  /** Contract for user-supplied UDF bundles registered per pipeline. */
  trait UdfProvider { def register(prefix: String, spark: SparkSession): Unit }

  /** The native SQL functions: (SQL name, expression class, builder).
   *  The one list both [[registerSystemUdfs]] and [[graft.GraftExtensions]]
   *  register from. */
  val nativeFunctions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = {
    import SketchAggregates._
    import VectorExpressions.{ArrayDotProduct, ArrayL2Norm}
    Seq(
      // codegen'd vector math
      ("vec_dot", classOf[ArrayDotProduct], es => ArrayDotProduct(es(0), es(1))),
      ("vec_norm", classOf[ArrayL2Norm], es => ArrayL2Norm(es.head)),
      // N-ary Z-order key (trailing integer literal = per-dim bits)
      ("zorder_key", classOf[ZOrderExpression.ZOrderKey], ZOrderExpression.sqlBuilder),
      // mergeable sketch aggregates
      ("graft_hll", classOf[HllDistinct], hllBuilder),
      ("graft_kll", classOf[KllQuantiles], kllBuilder),
      ("graft_hll_state", classOf[HllState], hllStateBuilder),
      ("graft_hll_merge", classOf[HllMergeEstimate], hllMergeBuilder),
      ("graft_kll_state", classOf[KllState], kllStateBuilder),
      ("graft_kll_merge", classOf[KllMergeQuantiles], kllMergeBuilder),
      ("graft_bloom_state", classOf[BloomState], bloomStateBuilder),
      ("graft_bloom_merge", classOf[BloomMergeState], bloomMergeBuilder),
      ("graft_bloom_contains", classOf[BloomContains], bloomContainsBuilder),
      ("graft_cms_state", classOf[CmsState], cmsStateBuilder),
      ("graft_cms_merge", classOf[CmsMergeState], cmsMergeBuilder),
      ("graft_cms_count", classOf[CmsCount], cmsCountBuilder),
      ("graft_bottomk", classOf[BottomKSample], bottomKBuilder),
      ("graft_topk_pairs", classOf[TopKPairs], topKPairsBuilder))
  }

  /** Register the byte UDFs, [[nativeFunctions]] and [[VectorRewriteRule]]
   *  on `spark`. A name the session already resolves is left as it is, so
   *  repeated registration on a shared session replaces nothing. */
  def registerSystemUdfs(spark: SparkSession): Unit = {
    val registry = org.apache.spark.sql.GraftSqlBridge.functionRegistry(spark)
    def absent(name: String) = !registry.functionExists(FunctionIdentifier(name))
    val byteUdfs = Seq(
      "bytes_to_hex" -> udf((b: Array[Byte]) => Decoder.bytesToHex(b)),
      "bytes_to_string" -> udf((b: Array[Byte], cs: String) => Decoder.bytesToString(b, cs)),
      "com3_to_double" -> udf((b: Array[Byte], scale: Int) => Decoder.com3ToDouble(b, scale)),
      "com3_to_int" -> udf((b: Array[Byte]) => Decoder.com3ToInt(b)),
      "binary_split" -> udf((b: Array[Byte], d: Array[Byte]) => Decoder.binarySplit(b, d)))
    for ((name, f) <- byteUdfs if absent(name)) spark.udf.register(name, f)
    for ((name, cls, builder) <- nativeFunctions if absent(name))
      registry.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder)
    // HOF-vector-math -> native-expression optimizer rewrite (idempotent add)
    if (!spark.experimental.extraOptimizations.contains(VectorRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ VectorRewriteRule
  }

  /** Instantiate a UdfProvider by class name and register under prefix. */
  def register(className: String, prefix: String)(implicit spark: SparkSession): Unit =
    Class.forName(className).getDeclaredConstructor().newInstance()
      .asInstanceOf[UdfProvider].register(prefix, spark)
}
