package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.llm.Dedup

/** Randomized pin of the duplicated-SUBSTRING detector against a
  * straight-line reference: every sliding SubstrK-gram occurring more than
  * once in the corpus marks all its occurrences EXCEPT the globally first
  * (by doc_id, then position); marked positions merge into maximal ranges;
  * the trim keeps exactly the unmarked positions. The reference works on
  * the covered-position SET directly, so it independently validates that
  * the engine's interval merge (gaps-and-islands windows) equals the
  * position-set semantics. A 2-token vocabulary forces dense gram
  * collisions; lengths straddle the sub-K boundary (docs shorter than
  * SubstrK must never be marked).
  */
object SubstrDedupProps extends Properties("substrDedup") {

  // each case writes a parquet fixture and runs the full three-query plan
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SharedSpark.session

  private val K = Dedup.SubstrK

  /** Marked-position sets per doc, straight from the definition. */
  private def markedPositions(
      docs: Seq[(Long, String)]): Map[Long, Set[Int]] = {
    val occ = for {
      (id, text) <- docs
      toks = text.split("\\s+", -1)
      p <- 0 to toks.length - K
    } yield (id, p, toks.slice(p, p + K).mkString(" "))
    val marked = scala.collection.mutable.Map[Long, Set[Int]]()
      .withDefaultValue(Set.empty)
    occ.groupBy(_._3).valuesIterator.foreach { os =>
      if (os.size > 1)
        os.sortBy(o => (o._1, o._2)).tail.foreach { case (id, p, _) =>
          marked(id) = marked(id) ++ (p until p + K)
        }
    }
    marked.toMap
  }

  /** Maximal runs of a position set, ascending. */
  private def runs(ps: Set[Int]): Seq[(Int, Int)] = {
    val sorted = ps.toSeq.sorted
    sorted.foldLeft(Vector.empty[(Int, Int)]) { case (acc, p) =>
      acc.lastOption match {
        case Some((s, e)) if p == e + 1 => acc.init :+ (s, p)
        case _                          => acc :+ (p, p)
      }
    }
  }

  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 3 * K + 5)
    toks <- Gen.listOfN(n, Gen.oneOf("a", "b"))
  } yield toks.mkString(" ")

  private def corpusGen: Gen[Seq[(Long, String)]] =
    Gen.choose(1, 10).flatMap(k => Gen.listOfN(k, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  private def write(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("substrprops").toString
    docs.map { case (id, t) => (id, t, "xx") }
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  property("ranges = maximal runs of the marked-position set") =
    Prop.forAll(corpusGen) { docs =>
      val dir = write(docs)
      val got = Dedup.substrRanges(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .toSeq
      val want = markedPositions(docs).toSeq.sortBy(_._1).flatMap {
        case (id, ps) => runs(ps).map { case (s, e) => (id, s, e, e - s + 1) }
      }
      val ok = got == want
      if (!ok) println(s"docs=$docs\ngot=$got\nwant=$want")
      ok
    }

  property("trim keeps exactly the unmarked positions") =
    Prop.forAll(corpusGen) { docs =>
      val dir = write(docs)
      val marked = markedPositions(docs)
      val got = Dedup.substrTrim(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
      val want = docs.map { case (id, text) =>
        val toks = text.split("\\s+", -1)
        val kept = toks.indices
          .filterNot(marked.getOrElse(id, Set.empty)).map(toks)
        id -> ((kept.length, kept.mkString(" ")))
      }.toMap
      val ok = got == want
      if (!ok) println(s"docs=$docs\ngot=$got\nwant=$want")
      ok
    }
}
