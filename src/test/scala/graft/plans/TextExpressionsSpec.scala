package graft.plans

import graft.SparkSpec
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.functions._

class TextExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def bothCounts(strings: Seq[String]) = {
    val df = strings.toDF("text")
    df.select(TextExpressions.token_count(col("text")).as("native"),
        size(tokens(col("text"))).cast("long").as("idiom"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  test("token_count equals size(tokens(_)) on adversarial inputs") {
    val cases = Seq(
      "", " ", "   \t\n\r\f  ",          // empty / all-whitespace -> 0
      "a", " a", "a ", "  a  b  ",             // boundary whitespace
      "a b c", "a\tb\nc\rd\fef",         // every \s separator byte
      "a b",                              // NBSP is NOT Java \s: one token
      "héllo wörld 你好",              // multi-byte UTF-8 tokens
      "你\n好",                        // multi-byte split by newline
      "x" * 10000,                             // long single token
      ("y " * 5000).trim)                      // many tokens
    bothCounts(cases).zip(cases).foreach { case ((native, idiom), s) =>
      assert(native == idiom, s"mismatch on ${s.take(40).replace("\n", "\\n")}")
    }
    assert(bothCounts(Seq("a b")).head._1 == 1L) // NBSP stays inside the token
  }

  test("token_count equals size(tokens(_)) on fuzz strings, codegen and interpreted") {
    val rnd = new scala.util.Random(87)
    val alphabet = " \t\n\r\f aAzZ09é 你ὠ0".toCharArray
    val fuzz = (1 to 500).map { _ =>
      (1 to rnd.nextInt(60)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    bothCounts(fuzz).foreach { case (native, idiom) => assert(native == idiom) }
    // interpreted (non-codegen) path: evaluate through a filter on a
    // wholestage-disabled session clone
    val ss = spark.newSession()
    ss.conf.set("spark.sql.codegen.wholeStage", "false")
    ss.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    import ss.implicits._
    val got = fuzz.toDF("text")
      .select(TextExpressions.token_count(col("text")).as("n"))
      .collect().map(_.getLong(0)).toSeq
    val exp = fuzz.map(_.split("\\s+").count(_.nonEmpty).toLong)
    assert(got == exp)
  }

  test("token_count handles null and non-string inputs per contract") {
    val df = Seq(Some("a b"), None).toDF("text")
    val got = df.select(TextExpressions.token_count(col("text"))).collect()
    assert(got(0).getLong(0) == 2L && got(1).isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("x").select(TextExpressions.token_count(col("x"))).collect()
    }
  }

  private val normCases = Seq(
    "", "plain ascii only", "café",      // composed stays composed
    "café",                             // combining acute -> composed
    "Å",                                // ring -> Å
    "ﬁnal",                              // NFKC folds the fi ligature
    "½ + Ⅰ",                        // NFKC folds ½ and Ⅰ
    "ộ",                                // multiple marks, canonical order
    "한각",                   // Hangul syllable + jamo run
    "😀 é",                   // non-BMP emoji + combining
    "é" * 500)                          // long denormalized run

  test("normalize_text equals java.text.Normalizer for every form, codegen and interpreted") {
    import java.text.Normalizer
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD")) {
      val exp = normCases.map(s =>
        Normalizer.normalize(s, Normalizer.Form.valueOf(form)))
      val got = normCases.toDF("s")
        .select(TextExpressions.normalize_text(col("s"), form)).collect()
        .map(_.getString(0)).toSeq
      assert(got == exp, s"form $form (codegen)")
      val ss = spark.newSession()
      ss.conf.set("spark.sql.codegen.wholeStage", "false")
      ss.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      import ss.implicits._
      val got2 = normCases.toDF("s")
        .select(TextExpressions.normalize_text(col("s"), form)).collect()
        .map(_.getString(0)).toSeq
      assert(got2 == exp, s"form $form (interpreted)")
    }
  }

  test("normalize_text ASCII fast path returns the input reference (no allocation)") {
    import org.apache.spark.unsafe.types.UTF8String
    val ascii = UTF8String.fromString("just ascii, stays put")
    assert(TextNorm.normalize(ascii, 0) eq ascii)
    // already-normalized non-ASCII also returns the input reference
    val composed = UTF8String.fromString("café")
    assert(TextNorm.normalize(composed, 0) eq composed)
    // denormalized input allocates and folds
    val combining = UTF8String.fromString("café")
    assert(TextNorm.normalize(combining, 0).toString == "café")
  }

  test("normalize_text stays inside whole-stage codegen (the no-UDF claim)") {
    // parquet-backed: a local Seq collapses to LocalTableScan (the
    // projection constant-folds at plan time and no codegen stage exists)
    val plan = spark.read.parquet(s"$sf/documents.parquet")
      .select(TextExpressions.normalize_text(col("text")).as("n"))
      .queryExecution.executedPlan
    val spans = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(spans.nonEmpty, s"no WholeStageCodegen span:\n${plan.treeString}")
    // the projection itself is inside the span, not a fallback ProjectExec
    assert(spans.exists(_.collectFirst {
      case p: org.apache.spark.sql.execution.ProjectExec
          if p.projectList.exists(_.name == "n") => p
    }.nonEmpty), s"normalize projection fell out of codegen:\n${plan.treeString}")
  }

  test("canonicalDigest: encoding/case/width variants of one text share a digest") {
    import graft.functions.TextFunctions.canonicalDigest
    // same logical text five ways: composed, combining marks, upper-case,
    // full-width letters, and an fi-ligature spelling
    val variants = Seq(
      "café final offer",
      "café final offer",         // combining acute
      "CAFÉ FINAL OFFER",
      "ｃａｆé ｆｉｎａｌ ｏｆｆｅｒ", // full-width (NFKC folds to ASCII)
      "café ﬁnal oﬀer")              // fi/ff ligatures
    val digests = variants.toDF("t")
      .select(canonicalDigest(col("t"))).collect().map(_.getString(0)).toSet
    assert(digests.size == 1,
      s"variants split into ${digests.size} digests")
    // and a genuinely different text does NOT collide
    val other = Seq("cafe final offer!").toDF("t")
      .select(canonicalDigest(col("t"))).collect().head.getString(0)
    assert(!digests.contains(other))
  }

  test("normalize_text contract: null passthrough, bad type and bad form rejected") {
    val got = Seq(Some("é"), None).toDF("s")
      .select(TextExpressions.normalize_text(col("s"))).collect()
    assert(got(0).getString(0) == "é" && got(1).isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("x").select(TextExpressions.normalize_text(col("x"))).collect()
    }
    intercept[IllegalArgumentException] {
      TextExpressions.normalize_text(col("s"), "NFX")
    }
  }

  test("minhash_signature: running pmod minima per permutation; null for null, empty or all-null hashes") {
    val (a, b) = (Seq(3L, 536870911L, 1L), Seq(7L, 0L, 536870911L))
    def expected(hs: Seq[Long]) =
      a.zip(b).map { case (ai, bi) => hs.map(h => java.lang.Math.floorMod(ai * h + bi, 4294967311L)).min }
    val rows: Seq[Option[Seq[Option[Long]]]] = Seq(
      Some(Seq(Some(0L), Some(4294967295L), Some(12345L))),
      Some(Seq(Some(42L), None, Some(42L))),
      Some(Seq(None)), Some(Seq.empty), None)
    val got = rows.toDF("h")
      .select(TextExpressions.minhash_signature(col("h"), a, b)).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getSeq[Long](0)))
    assert(got.toSeq == Seq(Some(expected(Seq(0L, 4294967295L, 12345L))), Some(expected(Seq(42L))),
      None, None, None))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq("x").toDF("s").select(TextExpressions.minhash_signature(col("s"), a, b)).collect()
    }
  }
}
