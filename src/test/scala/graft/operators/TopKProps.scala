package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Property-style pins for the bounded-heap partial top-k
  * (`Bridge.collectTopK`, Spark's `collect_top_k`) and the orderings its
  * callers (`Similarity.topK`, `Aggregates.counterTopN`) encode as structs:
  * against a plain sort-and-take oracle, under arbitrary partitioning, with duplicate scores, ties, and k larger than
  * the group (seeded deterministic random inputs).
  */
class TopKProps extends AnyFunSuite with SparkTestBase {

  test("Similarity.topK == sort-take-k for random inputs, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { trial =>
      val n = 50 + rnd.nextInt(400)
      val k = 1 + rnd.nextInt(12)
      val rows = Seq.fill(n)((
        rnd.nextInt(5).toLong,
        rnd.nextInt(60).toLong,
        // quantized scores force plenty of exact ties
        if (rnd.nextBoolean()) rnd.nextInt(5) * 0.25 - 0.5 else rnd.nextDouble() * 2 - 1))
      val df = rows.toDF("query_id", "neighbor_id", "cosine").repartition(1 + rnd.nextInt(9))
      val got = Similarity.topK(df, k).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (q, g) =>
        g.map { case (_, id, c) => (id, c) }
          .sortBy { case (id, c) => (-c, id) }
          .take(k).zipWithIndex
          .map { case ((id, c), i) => (q, i + 1, id, c) }
      }.sortBy(t => (t._1, t._2))
      assert(got == expected, s"trial $trial (n=$n k=$k)")
    }
  }

  test("collectTopK over (-cnt, key): cnt descending, then key with nulls first") {
    // Aggregates.counterTopN, COUNTER's ranking: ties on cnt, a null key, a
    // group smaller than k, and the totals passed through whole
    import spark.implicits._
    val rows = Seq(
      ("d1", Some("b"), 5L), ("d1", None, 5L), ("d1", Some("a"), 5L), ("d1", Some("z"), 9L),
      ("d2", Some("x"), 1L)) ++
      (1 to 5).map(i => (Aggregates.TotalsDim, Some(s"t$i"), i.toLong))
    val df = rows.map { case (d, k, c) => (d, k.orNull, c) }.toDF("dim", "key", "cnt")
    val expected = Set(
      ("d1", Some("z"), 9L, 1), ("d1", None, 5L, 2), ("d1", Some("a"), 5L, 3),
      ("d2", Some("x"), 1L, 1)) ++
      (1 to 5).map(i => (Aggregates.TotalsDim, Some(s"t$i"), i.toLong, 6 - i))
    Seq(1, 3, 5, 8).foreach { parts =>
      val got = Aggregates.counterTopN(df.repartition(parts), 3).collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2), r.getInt(3))).toSet
      assert(got == expected, s"$parts partitions")
    }
  }
}
