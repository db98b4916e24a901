package graft.ext

import graft.GraftSpec

/** Greedy sequence packing: deterministic bin boundaries, oversized docs,
  * per-group independence.
  */
class PackingSpec extends GraftSpec {
  import spark.implicits._

  private def pack(rows: Seq[(String, Long, Long)], cap: Long) =
    Packing.packGreedy(rows.toDF("src", "id", "n"), "src", "id", "n", cap)
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq

  describe("Packing.packGreedy") {
    it("fills bins greedily in ascending id order and rolls on overflow") {
      val got = pack(Seq(("a", 1L, 4L), ("a", 2L, 4L), ("a", 3L, 3L),
        ("a", 4L, 9L), ("a", 5L, 1L)), cap = 10)
      // 4+4=8, +3 would be 11 > 10 -> bin 1; 3+9=12 > 10 -> bin 2; 9+1=10 fits
      got shouldBe Seq(("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L),
        ("a", 4L, 2L), ("a", 5L, 2L))
    }

    it("gives an oversized document its own bin without stalling the stream") {
      val got = pack(Seq(("a", 1L, 25L), ("a", 2L, 2L), ("a", 3L, 25L)),
        cap = 10)
      got shouldBe Seq(("a", 1L, 0L), ("a", 2L, 1L), ("a", 3L, 2L))
    }

    it("packs each group independently") {
      val got = pack(Seq(("a", 1L, 6L), ("b", 1L, 6L), ("a", 2L, 6L),
        ("b", 2L, 3L)), cap = 10)
      got shouldBe Seq(("a", 1L, 0L), ("a", 2L, 1L),
        ("b", 1L, 0L), ("b", 2L, 0L))
    }

    it("preserves the group and id column types (no string cast in the output)") {
      val df = Seq((10, java.sql.Date.valueOf("2024-01-01"), 6L),
        (10, java.sql.Date.valueOf("2024-01-02"), 6L))
        .toDF("grp", "day", "n")
      val out = Packing.packGreedy(df, "grp", "day", "n", capacity = 10)
      out.schema("grp").dataType shouldBe org.apache.spark.sql.types.IntegerType
      out.schema("day").dataType shouldBe org.apache.spark.sql.types.DateType
      out.as[(Int, java.sql.Date, Long)].collect().sortBy(_._2.toString).toSeq shouldBe
        Seq((10, java.sql.Date.valueOf("2024-01-01"), 0L),
          (10, java.sql.Date.valueOf("2024-01-02"), 1L))
    }

    it("an exact-capacity fit stays in the bin (strict-overflow boundary)") {
      val got = pack(Seq(("a", 1L, 5L), ("a", 2L, 5L), ("a", 3L, 1L)),
        cap = 10)
      got shouldBe Seq(("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L))
    }

    it("property: equals the sequential greedy fold on random corpora " +
       "regardless of partitioning") {
      val rnd = new scala.util.Random(7)
      def simulate(rows: Seq[(String, Long, Long)], cap: Long): Seq[(String, Long, Long)] =
        rows.groupBy(_._1).toSeq.flatMap { case (g, docs) =>
          var bin = 0L; var fill = 0L; var first = true
          docs.sortBy(_._2).map { case (_, id, n) =>
            if (first) { fill = n; first = false }
            else if (fill + n > cap) { bin += 1; fill = n }
            else fill += n
            (g, id, bin)
          }
        }.sortBy(r => (r._1, r._2))
      for (trial <- 1 to 10) {
        val cap = 1 + rnd.nextInt(40)
        val rows = (1 to (20 + rnd.nextInt(180))).map { i =>
          (s"g${rnd.nextInt(5)}", i.toLong, rnd.nextInt(30).toLong)
        }
        val df = rows.toDF("src", "id", "n").repartition(1 + rnd.nextInt(7))
        val got = Packing.packGreedy(df, "src", "id", "n", cap)
          .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
        withClue(s"trial $trial cap=$cap: ") {
          got shouldBe simulate(rows, cap)
        }
      }
    }
  }

  describe("Packing.packGreedyCarry") {
    it("accepts a non-long integral size column: the encoder schema " +
       "must describe the frame AFTER the long cast (deriving it from " +
       "the input schema declared int while the rows carried Long — a " +
       "runtime 'not a valid external type' crash)") {
      val df = Seq(("g1", 1L, 3), ("g1", 2L, 3), ("g1", 3L, 5),
        ("g2", 4L, 9)).toDF("src", "id", "n") // n is INT, not long
      val out = Packing.packGreedyCarry(df, "src", "id", "n", 6L)
      out.schema("n").dataType.typeName shouldBe "long"
      out.select("src", "id", "bin").as[(String, Long, Long)]
        .collect().sortBy(r => (r._1, r._2)).toSeq shouldBe Seq(
        ("g1", 1L, 0L), ("g1", 2L, 0L), ("g1", 3L, 1L), ("g2", 4L, 0L))
    }

    it("carries every input column through with `bin` appended and " +
       "matches packGreedy's assignment bit for bit") {
      val df = Seq(("g1", 1L, 4L, "a"), ("g1", 2L, 4L, "b"),
        ("g2", 3L, 7L, "c")).toDF("src", "id", "n", "tag")
      val carry = Packing.packGreedyCarry(df, "src", "id", "n", 6L)
      carry.columns.toSeq shouldBe Seq("src", "id", "n", "tag", "bin")
      val proj = Packing.packGreedy(df, "src", "id", "n", 6L)
        .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      carry.select("src", "id", "bin").as[(String, Long, Long)]
        .collect().sortBy(r => (r._1, r._2)).toSeq shouldBe proj
    }

    it("refuses duplicate BINARY ids by content (two equal byte arrays " +
       "are distinct objects) and passes distinct ones") {
      val dup = Seq(("g1", Array[Byte](1, 2), 3L), ("g1", Array[Byte](1, 2), 4L),
        ("g1", Array[Byte](9), 5L)).toDF("src", "id", "n")
      val err = intercept[Exception] {
        Packing.packGreedyCarry(dup, "src", "id", "n", 100L,
          duplicateIdError = Some("duplicate binary id")).count()
      }
      Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage))
        .exists(_.contains("duplicate binary id")) shouldBe true
      val distinct = Seq(("g1", Array[Byte](1, 2), 3L),
        ("g1", Array[Byte](1, 3), 4L)).toDF("src", "id", "n")
      Packing.packGreedyCarry(distinct, "src", "id", "n", 100L,
        duplicateIdError = Some("duplicate binary id")).count() shouldBe 2L
    }
  }
}
