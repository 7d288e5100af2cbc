package graft.expressions

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Nullability-contract + interpreted≡codegen audit over the native
  * expression registry (VERDICT r11 item 3).
  *
  * Round 10 institutionalized value parity between the interpreted and
  * codegen paths; round 11 showed the *nullability claim* itself can lie:
  * `FloatDotProduct` inherited `nullable = false` over non-nullable
  * children while its kernel could produce null (null array elements), and
  * the mismatch surfaced as uncompilable generated Java. This harness
  * checks, for every row-level expression `GraftExtensions.register`
  * installs and every edge input (null children, null elements, empty
  * arrays, empty strings, self-argument shape), BOTH:
  *
  *  1. `expr.nullable == false` ⟹ eval never returns null (the claim an
  *     unsafe writer relies on — a false claim writes garbage, not null);
  *  2. interpreted eval ≡ strict-codegen eval (GenerateMutableProjection
  *     THROWS on a Janino failure — there is no silent fallback here, so
  *     this is also the regression test that the three full-`doGenCode`
  *     kernels compile over non-nullable children).
  *
  * Both child-nullability declarations are exercised: non-nullable
  * `BoundReference`s (the shape that broke fdot — `ev.isNull` renders as
  * an unassignable literal wherever a kernel violates the
  * nullSafeCodeGen contract) and nullable ones (with top-level null rows
  * added). `HeavyHitters` is a `TypedImperativeAggregate` — it has no
  * row-projection codegen path and is covered by HeavyHittersSpec;
  * `JaccardFusionRule` is an optimizer rule, not an expression.
  */
class NullabilityContractSpec extends SparkSpec {

  private val af = ArrayType(FloatType, containsNull = true)
  private val as = ArrayType(StringType, containsNull = true)
  private val al = ArrayType(LongType, containsNull = true)
  private val ad = ArrayType(DoubleType, containsNull = true)

  private def arr(xs: Any*): GenericArrayData = new GenericArrayData(xs.toArray)
  private def sarr(xs: String*): GenericArrayData =
    new GenericArrayData(xs.map(s => if (s == null) null else UTF8String.fromString(s)).toArray)
  private def s(x: String): UTF8String = UTF8String.fromString(x)

  private val bloomBytes: Array[Byte] = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100)
    Seq(1L, 7L, 42L).foreach(bf.putLong)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** One expression under audit: `mk` builds it from bound child refs. */
  private case class Probe(
      name: String,
      mk: Seq[Expression] => Expression,
      inputTypes: Seq[DataType],
      rows: Seq[Seq[Any]])

  private val probes: Seq[Probe] = Seq(
    Probe("graft_fdot", c => FloatDotProduct(c(0), c(1)), Seq(af, af), Seq(
      Seq(arr(1.0f, 2.0f), arr(3.0f, 4.0f)),
      Seq(arr(1.0f, null, 3.0f), arr(1.0f, 2.0f, 3.0f)), // null element → null row
      Seq(arr(), arr()))),
    // the q_auc_exact shape: the SAME column on both sides
    Probe("graft_fdot_self", c => FloatDotProduct(c(0), c(0)), Seq(af), Seq(
      Seq(arr(1.0f, 2.0f, 3.0f)),
      Seq(arr(0.5f, null)),
      Seq(arr()))),
    Probe("graft_rpsig", c => FloatRpSig(c(0), 8), Seq(af), Seq(
      Seq(arr(1.0f, -2.0f, 0.25f)),
      Seq(arr()))),
    Probe("graft_rpbands", c => FloatRpBands(c(0), Literal(4), Literal(8)), Seq(af), Seq(
      Seq(arr(1.0f, -2.0f, 0.25f)),
      Seq(arr(1.0f, null)), // null element → null row
      Seq(arr()))),
    Probe("graft_jlproj", c => JlProjectExpr(c(0), 8), Seq(af), Seq(
      Seq(arr(1.0f, -2.0f, 0.25f)),
      Seq(arr(null, 1.0f)), // null element → null row
      Seq(arr()))),
    Probe("graft_jaccard", c => StringSetJaccard(c(0), c(1)), Seq(as, as), Seq(
      Seq(sarr("a", "b"), sarr("b", "c")),
      Seq(sarr("a", null), sarr(null, "a")), // null MEMBERS are set elements here
      Seq(sarr(), sarr("x")),
      Seq(sarr(), sarr()))),
    Probe("graft_jaccard_sorted", c => SortedLongJaccard(c(0), c(1)), Seq(al, al), Seq(
      Seq(arr(1L, 5L, 9L), arr(5L, 9L, 11L)),
      Seq(arr(), arr(3L)),
      Seq(arr(), arr()))),
    Probe("graft_token_set_ratio", c => TokenSetRatioExpr(c(0), c(1)), Seq(as, as), Seq(
      Seq(sarr("new", "york", "mets"), sarr("mets", "new", "york")),
      Seq(sarr(""), sarr("a")),
      Seq(sarr(), sarr()))),
    Probe("graft_jaro_winkler", c => JaroWinklerExpr(c(0), c(1)),
      Seq(StringType, StringType), Seq(
        Seq(s("martha"), s("marhta")),
        Seq(s(""), s("abc")),
        Seq(s(""), s("")))),
    Probe("graft_damerau", c => DamerauLevenshteinExpr(c(0), c(1)),
      Seq(StringType, StringType), Seq(
        Seq(s("ca"), s("abc")),
        Seq(s(""), s("xyz")),
        Seq(s("héllo"), s("hello")))),
    Probe("graft_tokenstats", c => TokenStats(c(0)), Seq(StringType), Seq(
      Seq(s("the quick brown fox the")),
      Seq(s("")),
      Seq(s("   ")))),
    Probe("graft_simhash16", c => TokenSimHash16(c(0)), Seq(StringType), Seq(
      Seq(s("some document text here")),
      Seq(s("")))),
    Probe("graft_simhash60", c => TokenSimHash60(c(0)), Seq(StringType), Seq(
      Seq(s("some document text here")),
      Seq(s("")))),
    Probe("graft_winhash", c => WindowHash(c(0), 4, 2), Seq(StringType), Seq(
      Seq(s("abcdefghij")),
      Seq(s("ab")), // shorter than the window
      Seq(s("")))),
    Probe("graft_winnow", c => WinnowFingerprints(c(0), 4, 3), Seq(StringType), Seq(
      Seq(s("abcdefghijklmno")),
      Seq(s("ab")),
      Seq(s("")))),
    Probe("graft_bucket", c => BucketBinarySearch(c(0), c(1)), Seq(DoubleType, ad), Seq(
      Seq(Double.box(2.5), arr(1.0, 2.0, 3.0)),
      Seq(Double.box(-1.0), arr(1.0, 2.0, 3.0)),
      Seq(Double.box(99.0), arr(1.0, 2.0, 3.0)))),
    Probe("graft_bloom_contains",
      c => BloomMightContain(Literal(bloomBytes, BinaryType), c(0)),
      Seq(LongType), Seq(
        Seq(Long.box(7L)),
        Seq(Long.box(1234567L)))))

  /** NaN-safe semantic equality (empty∩empty Jaccard is NaN on BOTH paths
    * — that's parity, not a divergence). */
  private def semEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => (x.isNaN && y.isNaN) || x == y
    case (x: Float, y: Float)   => (x.isNaN && y.isNaN) || x == y
    case (x: Seq[_], y: Seq[_]) =>
      x.length == y.length && x.lazyZip(y).forall(semEq)
    case _ => a == b
  }

  private def runOne(expr: Expression, row: InternalRow): Try[Any] = Try {
    val proj = GenerateMutableProjection.generate(Seq(expr)) // STRICT: throws on Janino failure
    CatalystTypeConverters.convertToScala(
      proj(row).get(0, expr.dataType), expr.dataType)
  }

  private def audit(p: Probe, childNullable: Boolean, rows: Seq[Seq[Any]]): Unit = {
    val children = p.inputTypes.zipWithIndex.map { case (dt, i) =>
      BoundReference(i, dt, nullable = childNullable)
    }
    val expr = p.mk(children)
    assert(expr.checkInputDataTypes().isSuccess, s"${p.name}: probe miswired")
    rows.foreach { values =>
      val row = InternalRow.fromSeq(values)
      val interp = Try(CatalystTypeConverters.convertToScala(
        expr.eval(row), expr.dataType))
      val gen = runOne(expr, row)
      (interp, gen) match {
        case (Success(iv), Success(gv)) =>
          assert(semEq(iv, gv),
            s"${p.name}(nullable=$childNullable) on $values: interpreted=$iv codegen=$gv")
          if (iv == null)
            assert(expr.nullable,
              s"${p.name} returned null but declares nullable=false — " +
                "an unsafe writer would emit garbage instead of null")
        case (Failure(ie), Failure(_)) => // both paths reject the input alike
          assert(!ie.isInstanceOf[org.codehaus.commons.compiler.CompileException])
        case (i, g) =>
          fail(s"${p.name}(nullable=$childNullable) on $values: " +
            s"interpreted=$i but codegen=$g — paths diverge")
      }
    }
  }

  probes.foreach { p =>
    test(s"${p.name}: non-nullable children — codegen compiles, parity + honest nullability") {
      audit(p, childNullable = false, p.rows)
    }
    test(s"${p.name}: nullable children incl. top-level nulls — parity + honest nullability") {
      // add one row per child with that child null (top-level)
      val nullRows = p.inputTypes.indices.map { i =>
        p.rows.head.zipWithIndex.map { case (v, j) => if (i == j) null else v }
      }
      audit(p, childNullable = true, p.rows ++ nullRows)
    }
  }
}
