package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions._

/** Every custom Catalyst expression must actually COMPILE its generated
  * Java — not silently fall back to interpreted mode. Spark's
  * `UnsafeProjection.create` catches janino failures and degrades to the
  * interpreter with only a WARN, so a doGenCode bug (e.g. a JVM array
  * class name like `[Lfoo;` leaking into Java source) costs the whole
  * codegen win while every value-parity spec stays green. Calling
  * `GenerateUnsafeProjection.generate` directly has no fallback: a
  * syntax error in the generated code throws here.
  *
  * Each case also pins value parity between the compiled projection and
  * the interpreted `eval` on a sample row, so the two paths can't
  * drift. */
class CodegenCompileSpec extends AnyFunSuite {

  private val str = BoundReference(0, StringType, nullable = true)
  private val darr = BoundReference(0, ArrayType(DoubleType), nullable = true)
  private val sarr = BoundReference(0, ArrayType(StringType), nullable = true)

  private def s(v: String) = UTF8String.fromString(v)
  private def rowStr(v: String) = InternalRow(s(v))
  private def rowDArr(v: Array[Double]) = InternalRow(new GenericArrayData(v))
  private def rowSArr(v: Array[String]) =
    InternalRow(new GenericArrayData(v.map(s)))

  private def assertCompilesAndMatches(expr: Expression, row: InternalRow): Unit = {
    // throws CompileException on invalid generated code — no fallback
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val toScala = CatalystTypeConverters.createToScalaConverter(expr.dataType)
    val compiled = toScala(proj(row).get(0, expr.dataType))
    val interpreted = toScala(expr.eval(row))
    assert(compiled == interpreted,
      s"codegen/interpreted mismatch for ${expr.prettyName}")
  }

  private val cases: Seq[(String, Expression, InternalRow)] = Seq(
    ("DotProduct", DotProduct(darr, darr), rowDArr(Array(1.0, 2.0, 3.0))),
    ("DsirScore", DsirScore(sarr, Array(0.1, -0.2, 0.3, 0.0)),
      rowSArr(Array("alpha", "beta", "gamma"))),
    ("GramHashes", GramHashes(sarr, 3),
      rowSArr(Array("the", "quick", "brown", "fox", "jumps"))),
    ("GramHashesMd5", GramHashesMd5(sarr, 3),
      rowSArr(Array("the", "quick", "brown", "fox", "jumps"))),
    ("HashEmbedMd5", HashEmbedMd5(sarr, 16),
      rowSArr(Array("alpha", "beta", "alpha", "gamma"))),
    ("HyperplaneSignature", HyperplaneSignature(darr, 16),
      rowDArr(Array(0.5, -1.5, 2.0, 0.25))),
    ("LangIdPick", LangIdPick(str, "[\\u4e00-\\u9fff]",
      Seq("en" -> "\\b(the|and|of)\\b", "pt" -> "\\b(de|que|para)\\b")),
      rowStr("the cat and the hat")),
    ("MinhashSignature", MinhashSignature(sarr, 8),
      rowSArr(Array("one", "two", "three"))),
    // the WSCG opt-out marker must be a pure pass-through on BOTH
    // paths: its overridden doGenCode delegates to the child (never
    // the CodegenFallback eval-by-reference body)
    ("NoWholeStageCodegen", NoWholeStageCodegen(str),
      rowStr("pass through unchanged")),
    ("MinhashWordGrams", MinhashWordGrams(sarr, 2, 8),
      rowSArr(Array("a", "b", "c", "d", "e", "f", "g"))),
    ("PatternCounts", PatternCounts(str, Seq("\\ba\\b", "[aeiou]")),
      rowStr("a man a plan a canal")),
    ("RepetitionStats", RepetitionStats(sarr, Seq(2, 3)),
      rowSArr(Array("ab", "ab", "ab", "cd", "cd", "ef"))),
    ("RollingFingerprint", RollingFingerprint(sarr),
      rowSArr(Array("fingerprint", "me"))),
    // a null ts yields a non-null struct of null fields on both paths
    ("SolarPosition", SolarPosition(
      BoundReference(0, TimestampType, nullable = true),
      Literal(-26.243602), Literal(-48.6417668), 101325.0, 12.0),
      InternalRow(1580558400000000L)),
    ("SimhashSignature", SimhashSignature(sarr),
      rowSArr(Array("simhash", "this", "short", "text"))),
    ("WinnowSelect", WinnowSelect(
      BoundReference(0, ArrayType(LongType), nullable = true), 3),
      InternalRow(new GenericArrayData(
        Array(5L, 3L, 3L, 7L, 1L, 9L, 1L, 1L)))))

  cases.foreach { case (name, expr, row) =>
    test(s"$name: generated code compiles and matches interpreted eval") {
      assertCompilesAndMatches(expr, row)
    }
  }

  test("null input row compiles and yields null through both paths") {
    cases.foreach { case (_, expr, _) =>
      assertCompilesAndMatches(expr, InternalRow(null))
    }
  }
}
