package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Changelog.changeSet]]: op classification, pre/post images,
  * idempotent-redelivery emptiness, null-key inserts, batch last-wins
  * parity with [[Upsert.upsert]], and apply-delta ≡ upsert. */
class ChangelogSpec extends SparkSpec {
  import spark.implicits._

  private val current = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    .toDF("k", "s", "v")

  test("classifies inserts, real updates, and silent redeliveries") {
    val updates = Seq(
      (2L, "B", 25.0),  // real update
      (3L, "c", 30.0),  // identical redelivery — no change rows
      (9L, "z", 90.0))  // new key
      .toDF("k", "s", "v")
    val cs = Changelog.changeSet(current, updates, Seq("k"))
      .collect().map(r => (r.getAs[String]("op"), r.getAs[Long]("k"),
        r.getAs[String]("s"), r.getAs[Double]("v"))).toSet
    assert(cs == Set(
      ("insert", 9L, "z", 90.0),
      ("update_pre", 2L, "b", 20.0),
      ("update_post", 2L, "B", 25.0)))
  }

  test("identical full redelivery produces an empty changelog") {
    assert(Changelog.changeSet(current, current, Seq("k")).isEmpty)
  }

  test("null-keyed rows are inserts; null non-key values compare null-safe") {
    val cur = Seq((Some(1L), Option("a")), (Some(2L), Option.empty[String]))
      .toDF("k", "s")
    val upd = Seq(
      (Option.empty[Long], Option("guest")), // null key → insert
      (Some(2L), Option.empty[String]))      // null == null → no change
      .toDF("k", "s")
    val cs = Changelog.changeSet(cur, upd, Seq("k")).collect()
    assert(cs.length == 1)
    assert(cs.head.getAs[String]("op") == "insert" &&
      cs.head.getAs[String]("s") == "guest")
  }

  test("dedupNullKeyed suppresses redelivered null-key inserts") {
    val cur = Seq((Some(1L), "a"), (None, "guest")).toDF("k", "s")
    val upd = Seq((Option.empty[Long], "guest"),
      (Option.empty[Long], "new-guest")).toDF("k", "s")
    // default mirrors Upsert's NULL-distinctness: both re-emit
    assert(Changelog.changeSet(cur, upd, Seq("k")).count() == 2)
    // opt-in dedup: only the genuinely new guest is a change row
    val dd = Changelog.changeSet(cur, upd, Seq("k"), dedupNullKeyed = true)
      .collect()
    assert(dd.length == 1 && dd.head.getAs[String]("s") == "new-guest")
  }

  test("batch last-wins matches upsert's winner") {
    // two updates for k=1 in one batch: the LAST must win both in the
    // upsert and in the changelog's post image
    val updates = Seq((1L, "first", 11.0), (1L, "last", 12.0))
      .toDF("k", "s", "v")
    val cs = Changelog.changeSet(current, updates, Seq("k"))
    val post = cs.where(col("op") === "update_post").collect()
    assert(post.length == 1 && post.head.getAs[String]("s") == "last")
    val up = Upsert.upsert(current, updates, Seq("k"))
      .where(col("k") === 1).collect()
    assert(up.head.getAs[String]("s") == "last")
  }

  test("emitDeletes surfaces vanished keys; the change feed window " +
      "end-to-end") {
    val next = Seq((1L, "a", 10.0), (3L, "C", 31.0), (9L, "z", 90.0))
      .toDF("k", "s", "v") // 2 deleted, 3 updated, 9 inserted, 1 same
    val cs = Changelog.changeSet(current, next, Seq("k"),
      emitDeletes = true)
      .collect().map(r => (r.getAs[String]("op"), r.getAs[Long]("k")))
      .toSet
    assert(cs == Set(("delete", 2L), ("update_pre", 3L),
      ("update_post", 3L), ("insert", 9L)))

    // the same via two committed generations
    val path = java.nio.file.Files
      .createTempDirectory("graft_gdiff").toString + "/t"
    commitWhole(current, path)
    commitWhole(next, path)
    val diff = FactChangeFeed.window(spark, path, Seq("k"), Some(0L), 1L)
      .collect().map(r => (r.getAs[String]("op"), r.getAs[Long]("k")))
      .toSet
    assert(diff == cs)
  }

  test("applying the changelog reproduces the upsert result") {
    val updates = Seq(
      (1L, "A", 11.0), (3L, "c", 30.0), (7L, "g", 70.0))
      .toDF("k", "s", "v")
    val cs = Changelog.changeSet(current, updates, Seq("k"))
    val changedKeys = cs.where(col("op") === "update_pre").select("k")
    val applied = current
      .join(changedKeys, Seq("k"), "left_anti")
      .unionByName(cs.where(col("op").isin("insert", "update_post"))
        .drop("op"))
    val upserted = Upsert.upsert(current, updates, Seq("k"))
    assert(applied.exceptAll(upserted).isEmpty &&
      upserted.exceptAll(applied).isEmpty)
  }
}
