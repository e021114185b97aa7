package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.llm.Dedup

/** Randomized pin of span dedup against a straight-line reference: global
  * first-occurrence (by doc_id, then span position) over consecutive
  * 8-token spans, documents reassembled from surviving spans in order.
  * The tiny vocabulary forces heavy span collisions; lengths 0..40 cover
  * the sub-span and exact-multiple boundaries.
  */
object SpanDedupProps extends Properties("spanDedup") {

  // each case writes a parquet fixture and runs the full plan
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SharedSpark.session

  private def reference(docs: Seq[(Long, String)]): Map[Long, (Int, String)] = {
    val seen = scala.collection.mutable.Set[String]()
    docs.sortBy(_._1).map { case (id, text) =>
      val toks = text.split("\\s+", -1)
      val nSpans = math.max(math.ceil(toks.length / 8.0).toInt, 1)
      val spans = (0 until nSpans).map(i =>
        toks.slice(i * 8, i * 8 + 8).mkString(" "))
      val kept = spans.filter { sp =>
        if (seen.contains(sp)) false else { seen.add(sp); true }
      }
      id -> ((kept.length, kept.mkString(" ")))
    }.toMap
  }

  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 40)
    toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
  } yield toks.mkString(" ")

  property("matches the first-occurrence reference") = Prop.forAll(
    Gen.choose(1, 12).flatMap(k => Gen.listOfN(k, docGen))) { texts =>
    import spark.implicits._
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val dir = java.nio.file.Files.createTempDirectory("spanprops").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.spanDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    val want = reference(docs)
    val ok = got == want
    if (!ok) println(s"docs=$docs\ngot=$got\nwant=$want")
    ok
  }
}
