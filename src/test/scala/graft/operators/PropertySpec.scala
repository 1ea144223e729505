package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.functions.{Normalize, TextFunctions}

/** Property-style checks (SURVEY §5.2) over scalacheck-generated data:
  * upsert idempotence, promote conservation, sanitize legality, jaccard
  * bounds. Sampling is explicit (fixed seeds, a few rounds per property)
  * because each case builds Spark jobs — minSuccessful=100 would be all
  * scheduler overhead. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default.withSize(30), Seed(seed)).get

  private val rowGen: Gen[List[(String, Int)]] = Gen.listOf(for {
    k <- Gen.choose(0, 8)
    v <- Gen.choose(0, 1000)
  } yield (s"k$k", v))

  test("property: upsert idempotence — upsert(upsert(t,b),b) == upsert(t,b)") {
    (1L to 4L).foreach { s =>
      val t = sample(rowGen, s).toDF("id", "v")
      val b = sample(rowGen, s + 100).toDF("id", "v")
      val ord = Some(col("v").asc)
      val once = Upsert.upsert(t, b, Seq("id"), ord)
      val twice = Upsert.upsert(once, b, Seq("id"), ord)
      assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty,
        s"seed $s")
    }
  }

  test("property: upsert preserves key uniqueness of a unique target") {
    (1L to 4L).foreach { s =>
      val t = Seq(("k1", -1), ("k2", -2)).toDF("id", "v")
      val b = sample(rowGen, s).toDF("id", "v")
      val out = Upsert.upsert(t, b, Seq("id"), Some(col("v").asc))
      assert(Constraints.uniqueViolations(out, Seq("id")).count() === 0,
        s"seed $s")
    }
  }

  test("property: promote conservation + gate exactness") {
    (1L to 4L).foreach { s =>
      val sRows = sample(rowGen, s)
      if (sRows.nonEmpty) {
        val staging = sRows.zipWithIndex
          .map { case ((k, v), i) => (s"id$i", k, v) }.toDF("id", "fk", "v")
        val parentKeys = sample(Gen.someOf(0 to 8), s + 7).toList
        val parent = parentKeys.map(k => (s"k$k", 1)).toDF("pk", "x")
        val res = Merge.promote(staging, parent, "fk", "pk",
          staging.limit(0), Seq("id"))
        val covered = res.main.select("id").union(res.staging.select("id"))
        assert(covered.exceptAll(staging.select("id")).isEmpty, s"seed $s")
        assert(staging.select("id").exceptAll(covered).isEmpty, s"seed $s")
        assert(res.main.join(parent.select(col("pk").as("fk")),
          Seq("fk"), "left_anti").isEmpty, s"seed $s")
      }
    }
  }

  test("property: sanitize output is legal charset, ≤255 chars, nonempty") {
    val strGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar,
      Gen.oneOf('/', '\\', ':', '*', '?', '"', '<', '>', '|', ' ', '.')))
      .map(_.mkString)
    (1L to 3L).foreach { s =>
      val strs = sample(Gen.nonEmptyListOf(strGen), s)
      val out = strs.toDF("s")
        .select(Normalize.sanitizeName(col("s")).as("n")).as[String].collect()
      assert(out.forall(_.length <= 255))
      assert(out.forall(x => !x.exists("\\/:*?\"<>|".contains(_))))
      assert(out.forall(_.nonEmpty))
    }
  }

  test("property: dedupNullKeyed replay idempotence over null-keyed batches") {
    val nullableGen: Gen[List[(Option[String], Int)]] = Gen.listOf(for {
      k <- Gen.option(Gen.choose(0, 4).map(i => s"k$i"))
      v <- Gen.choose(0, 5) // narrow range forces all-column duplicates
    } yield (k, v))
    (1L to 4L).foreach { s =>
      val t = sample(nullableGen, s).map { case (k, v) => (k.orNull, v) }
        .toDF("id", "v")
      val b = sample(nullableGen, s + 50).map { case (k, v) => (k.orNull, v) }
        .toDF("id", "v")
      val ord = Some(col("v").asc)
      val once = Upsert.upsert(t, b, Seq("id"), ord, dedupNullKeyed = true)
      val twice = Upsert.upsert(once, b, Seq("id"), ord,
        dedupNullKeyed = true)
      assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty,
        s"seed $s")
    }
  }

  private val nullableKeyGen: Gen[List[(Option[String], Option[Int], Int)]] =
    Gen.listOf(for {
      k1 <- Gen.frequency(4 -> Gen.choose(0, 4).map(i => Some(s"k$i")),
        1 -> Gen.const(None))
      k2 <- Gen.frequency(4 -> Gen.choose(0, 2).map(Some(_)),
        1 -> Gen.const(None))
      x <- Gen.choose(0, 2) // narrow range forces all-column duplicates
    } yield (k1, k2, x))

  /** Rows `(k1, k2, x, v)`: the winner-order column `v` is unique among
    * keyed rows (negative on the target side, so target rows copied
    * into the updates stay unique there too), and equals `x` on
    * NULL-keyed rows, so identical NULL-keyed rows occur. */
  private def ordered(rows: List[(Option[String], Option[Int], Int)],
      keys: Seq[String], sign: Int) =
    rows.zipWithIndex.map { case ((k1, k2, x), i) =>
      val nullKey = k1.isEmpty || (keys.contains("k2") && k2.isEmpty)
      (k1, k2, x, if (nullKey) x else sign * (i * 10 + x + 1))
    }

  test("property: the one-window upsert equals the three-branch model " +
      "as a row multiset") {
    val orders: Seq[(String, Option[Column])] = Seq("arrival" -> None,
      "largest" -> Some(col("v")), "asc" -> Some(col("v").asc),
      "desc" -> Some(col("v").desc))
    val cases = for {
      keys <- Seq(Seq("k1"), Seq("k1", "k2"))
      (ordName, ord) <- orders
      dedup <- Seq(false, true)
    } yield (keys, ordName, ord, dedup)
    cases.zipWithIndex.foreach { case ((keys, ordName, ord, dedup), i) =>
      val seed = 400L + i
      val t = ordered(sample(nullableKeyGen, seed), keys, -1)
      // a third of the target redelivered: keyed rows meet their own
      // key, NULL-keyed rows meet an identical target row
      val u = ordered(sample(nullableKeyGen, seed + 50), keys, 1) ++
        t.zipWithIndex.collect { case (r, j) if j % 3 == 0 => r }
      // every case also runs with an empty target and empty updates
      Seq("full" -> (t, u), "empty target" -> (Nil, u),
          "empty updates" -> (t, Nil)).foreach { case (shape, (tr, ur)) =>
        val (td, ud) = (tr.toDF("k1", "k2", "x", "v"),
          ur.toDF("k1", "k2", "x", "v"))
        def rows(df: DataFrame) =
          df.collect().map(_.toString).sorted.toSeq
        val got = rows(Upsert.upsert(td, ud, keys, ord, dedup))
        val want = rows(UpsertSpec.threeBranch(td, ud, keys, ord, dedup))
        assert(got == want, s"keys=$keys order=$ordName " +
          s"dedupNullKeyed=$dedup $shape seed=$seed")
      }
    }
  }

  test("property: shingle count law — size = max(tokens - n + 1, 1)") {
    val textGen = Gen.listOf(Gen.oneOf("a", "bb", "ccc"))
      .map(_.mkString(" "))
    (1L to 3L).foreach { s =>
      val texts = sample(Gen.nonEmptyListOf(textGen), s)
      for (n <- Seq(1, 2, 5)) {
        val rows = texts.toDF("text").select(
          size(TextFunctions.tokens(col("text"))).as("nt"),
          size(TextFunctions.wordShingles(col("text"), n)).as("ns"))
          .as[(Int, Int)].collect()
        assert(rows.forall { case (nt, ns) =>
          ns === math.max(nt - (n - 1), 1) }, s"seed $s n=$n")
      }
    }
  }

  test("property: jaccard(x,x)=1 for nonempty token sets") {
    val textGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e"))
      .map(_.mkString(" "))
    val texts = sample(Gen.nonEmptyListOf(textGen), 11L)
    val jSelf = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(Dedup.jaccardArrays(
        array_distinct(TextFunctions.wordShingles(col("text"), 1)),
        array_distinct(TextFunctions.wordShingles(col("text"), 1))).as("j"))
      .as[Double].collect()
    assert(jSelf.forall(_ === 1.0))
  }

  // unique-keyed frames: the changelog/evolve contracts assume unique
  // ids, so generate per-key value maps rather than raw row lists
  private val keyedGen: Gen[Map[String, Int]] = Gen.mapOf(for {
    k <- Gen.choose(0, 8)
    v <- Gen.choose(0, 1000)
  } yield (s"k$k", v))

  test("property: apply(changeSet) == upsert for unique-keyed frames") {
    (1L to 4L).foreach { seed =>
      val cur = sample(keyedGen, seed).toSeq.toDF("id", "v")
      val upd = sample(keyedGen, seed + 100).toSeq.toDF("id", "v")
      val cs = Changelog.changeSet(cur, upd, Seq("id"))
      val applied = cur
        .join(cs.where(col("op") === "update_pre").select("id"),
          Seq("id"), "left_anti")
        .unionByName(cs.where(col("op").isin("insert", "update_post"))
          .drop("op"))
      val upserted = Upsert.upsert(cur, upd, Seq("id"))
      assert(applied.exceptAll(upserted).isEmpty &&
        upserted.exceptAll(applied).isEmpty, s"seed $seed")
      // and a self-redelivery always yields an empty changelog
      assert(Changelog.changeSet(cur, cur, Seq("id")).isEmpty, s"seed $seed")
    }
  }

  test("property: incremental view through changes == recompute") {
    val stats = Seq(IncrementalAgg.Stat("v", min = false, max = false))
    (1L to 4L).foreach { seed =>
      val cur = sample(keyedGen, seed).toSeq
        .map { case (k, v) => (k, s"g${v % 3}", v.toLong) }
        .toDF("id", "g", "v")
      val upd = sample(keyedGen, seed + 200).toSeq
        .map { case (k, v) => (k, s"g${v % 3}", v.toLong) }
        .toDF("id", "g", "v")
      if (!cur.isEmpty) {
        val state = IncrementalAgg.aggregateBatch(cur, Seq("g"), stats,
          trackRows = true)
        val view = IncrementalAgg.applyChangeSet(state,
          Changelog.changeSet(cur, upd, Seq("id")), Seq("g"), stats)
          .drop(IncrementalAgg.RowsCol)
        val truth = IncrementalAgg.aggregateBatch(
          Upsert.upsert(cur, upd, Seq("id")), Seq("g"), stats)
        assert(view.exceptAll(truth).isEmpty &&
          truth.exceptAll(view).isEmpty, s"seed $seed")
      }
    }
  }

  test("property: generation diff applied forward reproduces the target") {
    (1L to 4L).foreach { seed =>
      val a = sample(keyedGen, seed).toSeq.toDF("id", "v")
      val b = sample(keyedGen, seed + 300).toSeq.toDF("id", "v")
      val d = Changelog.changeSet(a, b, Seq("id"), emitDeletes = true)
      val rebuilt = a
        .join(d.where(col("op").isin("update_pre", "delete")).select("id"),
          Seq("id"), "left_anti")
        .unionByName(d.where(col("op").isin("insert", "update_post"))
          .drop("op"))
      assert(rebuilt.exceptAll(b).isEmpty && b.exceptAll(rebuilt).isEmpty,
        s"seed $seed")
    }
  }
}
