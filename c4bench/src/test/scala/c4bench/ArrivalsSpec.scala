package c4bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The arrival generator of the streaming workload: deterministic per
  * seed, and its by-construction fresh ids are exactly what the library's
  * batch operator keeps when replayed batch by batch. */
class ArrivalsSpec extends AnyFunSuite {
  /** A 500-document history, the size of the generated `documents` table
    * at sf0.001, including exact duplicates as that table has. */
  private def history(seed: Long): Seq[String] = {
    val rng = new java.util.SplittableRandom(seed)
    val texts = Vector.fill(480)(Arrivals.randomText(rng))
    texts ++ texts.take(20).map(_ + " dup")
  }

  private def batches(seed: Long, n: Int): Seq[Arrivals.Batch] = {
    val gen = new Arrivals(history(1), seed, 50)
    Seq.fill(n)(gen.next())
  }

  test("the same seed gives identical batches; another seed does not") {
    assert(batches(7, 12) == batches(7, 12))
    assert(batches(7, 12) != batches(8, 12))
  }

  test("every batch mixes copies, repeats and fresh texts, with unique ids") {
    val bs = batches(7, 12)
    val ids = bs.flatMap(_.rows.map(_._1))
    assert(ids.distinct.size == ids.size)
    bs.foreach { b =>
      assert(b.fresh.nonEmpty && b.fresh.size < b.rows.size)
      assert(b.rows.map(r => Arrivals.normalize(r._2)).distinct.size == b.rows.size)
    }
    val hist = history(1).map(Arrivals.normalize).toSet
    val copies = bs.flatMap(_.rows).count { case (_, t) =>
      hist.contains(Arrivals.normalize(t)) && t != Arrivals.normalize(t) }
    assert(copies > 0, "no case-changed history copies")
  }

  test("expected fresh ids equal a batch-by-batch Dedup.incrementalExact replay") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      var hist = history(1).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      batches(3, 12).foreach { b =>
        val fresh = graft.ext.Dedup.incrementalExact(
            b.rows.toDF("doc_id", "text"), hist.toDF("doc_id", "text"), "doc_id", "text")
          .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
        assert(fresh.map(_._1).toSet == b.fresh)
        hist ++= fresh
      }
    } finally spark.stop()
  }
}
