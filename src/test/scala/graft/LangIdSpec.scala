package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** Language-ID accuracy on real multilingual snippets (the fixture corpus is
  * synthetic English-ish for every label, so accuracy is only testable here).
  */
class LangIdSpec extends AnyFunSuite {
  import TestSpark._

  private val snippets = Seq(
    (0L, "the cat sat on the mat and the dog is happy to see it", "en"),
    (1L, "der Hund und die Katze sind im Garten und das Wetter ist gut", "de"),
    (2L, "le chien et la chatte sont dans les jardins et la vie est belle", "fr"),
    (3L, "el perro y la gata viven en los campos y la vida es buena", "es"),
    (4L, "我 的 猫 是 在 花园 里 的 它 是 很 开心 的 和 狗 在 一起", "zh"),
    (5L, "to be or not to be that is the question and the answer is unclear", "en"),
    (6L, "die Sonne ist hell und der Himmel ist blau und das Leben ist schön", "de"))

  test("textLangId predicts the right language for real snippets") {
    val s = spark
    import s.implicits._
    val dir = scratchDir("langid").toString
    snippets.map { case (id, t, lang) => (id, t, lang, "test", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val preds = TextOps.textLangId(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("pred_lang"), r.getAs[String]("label_lang"), r.getAs[Int]("marker_hits")))
      .toMap
    snippets.foreach { case (id, _, lang) =>
      val (pred, label, hits) = preds(id)
      assert(label == lang)
      assert(pred == lang, s"doc $id: predicted $pred, expected $lang (hits=$hits)")
      assert(hits > 0, s"doc $id: no marker hits at all")
    }
  }

  test("langConfusion: cells regroup textLangId exactly and tile the corpus") {
    val per = TextOps.textLangId(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getAs[String]("label_lang"), r.getAs[String]("pred_lang")))
    val expected = per.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = TextOps.langConfusion(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getAs[String]("label_lang"), r.getAs[String]("pred_lang")) ->
        r.getAs[Long]("n_docs")).toMap
    assert(got == expected)
    assert(got.values.sum ==
      graft.sources.Tables.documents(spark, TestSpark.Sf0001).count())
  }
}
