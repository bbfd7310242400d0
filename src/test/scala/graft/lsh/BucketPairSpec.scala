package graft.lsh

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** [[BucketPairs]] against a driver brute force: a pair is two rows that
  * agree in at least one slot position and share a scope, and it comes out
  * exactly once, whatever the shuffle partition count, and whether its
  * bucket is scored whole or split into tiles. */
class BucketPairSpec extends SparkSpec {
  import spark.implicits._

  /** (id, slots, scope) rows: a bucket of 1.5 tiles (slot 0 = 7 in scope
    * 0), so it is split into two chunks and three tiles, 4-slot rows over a
    * 3-value domain (most pairs agree in several slots), scope-1 copies of
    * scope-0 slot arrays, and empty slot arrays. */
  private val hotRows = BucketPairs.TileRows * 3 / 2
  private lazy val rows: Seq[(Long, Seq[Long], Int)] = {
    val r = new scala.util.Random(1705)
    val hot = (0 until hotRows).map(i => (i.toLong, 7L +: Seq.fill(3)(100L + r.nextInt(50)), 0))
    val dense = (hotRows until hotRows + 60).map(i => (i.toLong, Seq.fill(4)(r.nextInt(3).toLong), 0))
    val copies = dense.take(20).map { case (id, s, _) => (id + 10000, s, 1) }
    val empty = (20000 until 20005).map(i => (i.toLong, Seq.empty[Long], i % 2))
    hot ++ dense ++ copies ++ empty
  }

  private def agree(a: Seq[Long], b: Seq[Long]): Boolean =
    a.zip(b).exists { case (x, y) => x == y }

  private def atPartitions(body: Int => Unit): Unit =
    for (n <- Seq(1, 3, 8))
      withConf(Seq("spark.sql.shuffle.partitions" -> n.toString))(body(n))

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.as[(Long, Long)].collect().toSeq.sorted

  test("self form: each agreeing same-scope pair once, pk1 < pk2, at 1, 3 and 8 partitions") {
    val want = (for {
      (a, sa, ca) <- rows; (b, sb, cb) <- rows
      if a < b && ca == cb && agree(sa, sb)
    } yield (a, b)).sorted
    assert(want.size > hotRows * (hotRows - 1) / 2, "the split bucket is missing")
    assert(rows.exists { case (_, s, _) => s.isEmpty })
    val df = rows.toDF("id", "slots", "scope")
    atPartitions { n =>
      assert(pairs(BucketPairs.self(df)) == want, s"scoped, $n partitions")
    }
    // without the scope, the scope-1 copies pair with their originals
    val unscoped = (for {
      (a, sa, _) <- rows; (b, sb, _) <- rows if a < b && agree(sa, sb)
    } yield (a, b)).sorted
    assert(unscoped.size > want.size)
    atPartitions { n =>
      assert(pairs(BucketPairs.self(df.select("id", "slots"))) == unscoped,
        s"unscoped, $n partitions")
    }
  }

  test("ids and scopes of a type the buckets cannot compare are refused") {
    val slots = Seq(Seq(1L, 2L), Seq(1L, 3L))
    val binary = slots.map(s => (s.map(_.toByte).toArray, s)).toDF("id", "slots")
    assert(intercept[IllegalArgumentException](BucketPairs.self(binary))
      .getMessage.contains("BinaryType"))
    val doubleScope = slots.zipWithIndex.map { case (s, i) => (i.toLong, s, 0.5) }
      .toDF("id", "slots", "scope")
    assert(intercept[IllegalArgumentException](BucketPairs.self(doubleScope))
      .getMessage.contains("DoubleType"))
  }

  test("self form orders string ids as Spark does and skips null ids and slots") {
    val df = Seq[(String, Seq[Long])](("b", Seq(1L, 2L)), ("a", Seq(1L, 3L)),
        ("𐀀", Seq(5L, 2L)), ("￿", Seq(5L, 9L)), (null, Seq(1L, 2L)),
        ("c", null), ("d", Seq(8L, 2L)))
      .toDF("id", "slots")
    val got = BucketPairs.self(df).as[(String, String)].collect().toSet
    // UTF-8 byte order: U+FFFF (EF BF BF) sorts before U+10000 (F0 90 80 80)
    assert(got == Set(("a", "b"), ("￿", "𐀀"),
      ("b", "𐀀"), ("b", "d"), ("d", "𐀀")))
  }

  test("cross form: each agreeing (left, right) pair once, overlapping ids, at 1, 3 and 8 partitions") {
    val left = rows.filter(_._1 % 2 == 0).map { case (id, s, _) => (id, s) }
    val right = rows.filter(_._1 % 3 == 0).map { case (id, s, _) => (id % 500, s) }
    val want = (for {
      (a, sa) <- left; (b, sb) <- right if agree(sa, sb)
    } yield (a, b)).sorted
    assert(want.exists { case (a, b) => a == b }, "no pair with equal ids")
    assert(want.distinct.size < want.size, "no two right rows share an id")
    atPartitions { n =>
      val got = BucketPairs.cross(left.toDF("id", "slots"), right.toDF("id", "slots"))
      assert(got.columns.toSeq == Seq("left", "right"))
      assert(pairs(got) == want, s"$n partitions")
    }
  }
}
