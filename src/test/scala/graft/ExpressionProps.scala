package graft

import graft.functions.{FloatVectorDot, StringNgrams}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based checks (SURVEY.md §5.3) for the native Catalyst
  * expressions, evaluated directly against naive reference implementations —
  * no SparkSession needed. */
object ExpressionProps extends Properties("graft.expressions") {

  private val word: Gen[String] = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val wordsGen: Gen[List[String]] = Gen.listOfN(30, word).flatMap(l =>
    Gen.choose(0, 30).map(l.take))

  private def ngramsNaive(ws: List[String], n: Int): List[String] =
    if (ws.length < n) Nil else ws.sliding(n).map(_.mkString(" ")).toList

  property("StringNgrams equals naive sliding join") =
    forAll(wordsGen, Gen.choose(1, 4)) { (ws, n) =>
      val lit = Literal.create(ws.toArray, ArrayType(StringType))
      val got = StringNgrams(lit, n).eval(null).asInstanceOf[ArrayData]
        .toObjectArray(StringType).map(_.toString).toList
      got == ngramsNaive(ws, n)
    }

  property("StringNgrams output count is max(0, len - n + 1)") =
    forAll(wordsGen, Gen.choose(1, 4)) { (ws, n) =>
      val lit = Literal.create(ws.toArray, ArrayType(StringType))
      val got = StringNgrams(lit, n).eval(null).asInstanceOf[ArrayData]
      got.numElements() == math.max(0, ws.length - n + 1)
    }

  private val vecGen: Gen[Array[Float]] =
    Gen.listOfN(64, Gen.choose(-10.0f, 10.0f)).map(_.toArray)

  private def dotNaive(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  property("FloatVectorDot equals the naive double fold bit-for-bit") =
    forAll(vecGen, vecGen) { (a, b) =>
      val la = Literal.create(a, ArrayType(FloatType))
      val lb = Literal.create(b, ArrayType(FloatType))
      val got = FloatVectorDot(la, lb).eval(null).asInstanceOf[Double]
      java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(dotNaive(a, b))
    }

  property("FloatVectorDot self-dot is non-negative") =
    forAll(vecGen) { a =>
      val la = Literal.create(a, ArrayType(FloatType))
      FloatVectorDot(la, la).eval(null).asInstanceOf[Double] >= 0.0
    }

  property("CollapseNgramCount rewrite matches the materialized count") =
    forAll(wordsGen, Gen.choose(1, 4)) { (ws, n) =>
      import org.apache.spark.sql.catalyst.expressions.{Alias, Size}
      import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
      val lit = Literal.create(ws.toArray, ArrayType(StringType))
      val original = Size(StringNgrams(lit, n), legacySizeOfNull = false)
      val plan = Project(Seq(Alias(original, "c")()), OneRowRelation())
      val rewritten = graft.plans.CollapseNgramCount(plan)
      val rewrittenExpr = rewritten.expressions.head.asInstanceOf[Alias].child
      !rewrittenExpr.exists(_.isInstanceOf[StringNgrams]) &&
        rewrittenExpr.eval(null) == original.eval(null)
    }

  property("FloatVectorDot of empty arrays is 0") = Prop {
    val e = Literal.create(Array.empty[Float], ArrayType(FloatType))
    FloatVectorDot(e, e).eval(null).asInstanceOf[Double] == 0.0
  }

  private def simhashNaive(ws: List[String]): Option[String] = {
    // the SQL formulation the expression replaced: per word md5 hex,
    // digit i >= '8' contributes +1 to bit i else -1 (null words take the
    // otherwise(-1) arm for every digit); bit = (sum >= 0); no words → no
    // fingerprint (explode emits no row)
    if (ws.isEmpty) return None
    val counts = new Array[Int](16)
    ws.foreach {
      case null => (0 until 16).foreach(counts(_) -= 1)
      case w =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
        (0 until 16).foreach { i =>
          counts(i) += (if (hex.charAt(i) >= '8') 1 else -1)
        }
    }
    Some(counts.map(c => if (c >= 0) '1' else '0').mkString)
  }

  // empty tokens (split() yields them on doubled separators), multi-byte
  // UTF-8, and null elements all exercise the byte-level digest path
  private val simhashWord: Gen[String] = Gen.oneOf(
    word, Gen.const(""), Gen.const(null: String),
    Gen.nonEmptyListOf(Gen.oneOf('é', '語', 'ß', 'α', '€')).map(_.mkString))
  private val simhashWordsGen: Gen[List[String]] =
    Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, simhashWord))

  property("SimHash16 equals the per-digit md5 sign-sum formulation") =
    forAll(simhashWordsGen) { ws =>
      val lit = Literal.create(ws.toArray, ArrayType(StringType))
      val got = Option(graft.functions.SimHash16(lit).eval(null)).map(_.toString)
      got == simhashNaive(ws)
    }

  private def minhashNaive(shingles: List[String]): Option[List[String]] = {
    // the SQL formulation the expression replaced: explode the shingles,
    // md5 each non-null one, and take the string minimum of each of the
    // four 8-char hex slices; no non-null shingle → no signature
    val hexes = shingles.filter(_ != null).map(sh =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(sh.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    if (hexes.isEmpty) None
    else Some((0 until 4).map(i => hexes.map(_.substring(8 * i, 8 * i + 8)).min).toList)
  }

  // repeated shingles, nulls, all-null and one-element arrays, "" and
  // multi-byte UTF-8 all occur in the generated arrays
  private val shingleGen: Gen[String] = Gen.frequency(
    6 -> simhashWord, 1 -> Gen.oneOf("a b c", "b c d"))
  private val shinglesGen: Gen[List[String]] = Gen.oneOf(
    Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, shingleGen)),
    shingleGen.map(List(_)),
    Gen.choose(1, 5).map(n => List.fill[String](n)(null)))

  property("MinHash4 equals the explode + md5 + per-slice string minimum formulation") =
    forAll(shinglesGen) { shs =>
      val lit = Literal.create(shs.toArray, ArrayType(StringType))
      val got = Option(graft.functions.MinHash4(lit).eval(null)
        .asInstanceOf[ArrayData]).map(_.toObjectArray(StringType).map(_.toString).toList)
      got == minhashNaive(shs)
    }
}
