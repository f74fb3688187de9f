package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UnicodeNormalizeSpec extends SparkSpec {
  import spark.implicits._

  test("NFC composes, NFD decomposes, NFKC folds compatibility forms") {
    val df = Seq("café", "café", "ﬁle", "①").toDF("s")
    val out = df.select(
        UnicodeNormalize.nfc_normalize($"s").as("nfc"),
        UnicodeNormalize.normalize($"s", "NFD").as("nfd"),
        UnicodeNormalize.normalize($"s", "NFKC").as("nfkc"))
      .as[(String, String, String)].collect()
    assert(out(0)._1 == "café")          // e + ́  → é
    assert(out(1)._2 == "café")          // é → e + ́
    assert(out(2)._3 == "file")                // ﬁ ligature → fi
    assert(out(3)._3 == "1")                   // ① → 1 under NFKC
    // NFC leaves compatibility characters alone
    assert(out(2)._1 == "ﬁle")
  }

  test("already-normalized (incl. pure ASCII) text is returned unchanged") {
    val out = Seq("hello world", "").toDF("s")
      .select(UnicodeNormalize.nfc_normalize($"s")).as[String].collect()
    assert(out.toSeq == Seq("hello world", ""))
  }

  test("null propagates; invalid form fails analysis with a clear message") {
    val n = Seq[Option[String]](None).toDF("s")
      .select(UnicodeNormalize.nfc_normalize($"s")).collect()
    assert(n.head.isNullAt(0))
    val e = intercept[Exception] {
      Seq("x").toDF("s")
        .select(UnicodeNormalize.normalize($"s", "NFX")).collect()
    }
    assert(e.getMessage.contains("NFC") || e.getMessage.contains("form"),
      e.getMessage)
  }

  test("SQL registration: nfc_normalize and unicode_normalize resolve") {
    val r = spark.sql(
      "SELECT nfc_normalize('café') AS a, " +
        "unicode_normalize('ﬁle', 'NFKC') AS b")
      .as[(String, String)].head()
    assert(r == ("café", "file"))
  }

  test("interpreted eval matches codegen output") {
    // force the interpreted path via a filter on a non-deterministic
    // wrapper is overkill; instead call the expression's eval directly
    val expr = UnicodeNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("café")),
      "NFC")
    assert(expr.eval(null).toString == "café")
  }

  test("ext_text_normalize: planted noise is cleaned, flags reconcile") {
    val out = graft.SparkEntry.queries("ext_text_normalize")(spark, sfDir)
      .cache()
    val docs = graft.ops.Tables.t(spark, sfDir, "documents")
    assert(out.count() == docs.count())
    // every doc got some planted noise except doc_ids odd and not
    // divisible by 3: those may be unchanged
    assert(out.filter($"changed").count() > 0)
    val bad = out.as[(Long, String, Boolean)].collect().filter { case (_, t, _) =>
      t.exists(c => c < ' ' && c != '\n') || t.contains("́") ||
        t.contains("  ") || t.endsWith(" ") || t.startsWith(" ")
    }
    assert(bad.isEmpty, bad.take(3).mkString("; "))
    // the composed é survives where the decomposed form was planted
    assert(out.filter($"norm_text".contains("café")).count() ==
      docs.filter($"doc_id" % 3 === 0).count())
    out.unpersist()
  }
}
