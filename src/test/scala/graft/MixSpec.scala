package graft

import graft.operators.Mix
import org.apache.spark.sql.functions._

/** Training-data composition: weighted mixing multiplicities and
  * token-budget packing invariants.
  */
class MixSpec extends SparkTestBase {

  import spark.implicits._

  test("weighted(2.5): every row appears 2 or 3 times, epochs distinct") {
    val df = (1L to 400L).map(i => (i, i * 10)).toDF("doc_id", "n_chars")
    val mixed = Mix.weighted(df, 2.5, Seq(col("doc_id")))
    val perRow = mixed.groupBy(col("doc_id")).count()
    assert(perRow.filter(col("count") < 2 || col("count") > 3).count() == 0)
    val n3 = perRow.filter(col("count") === 3).count()
    assert(n3 > 100 && n3 < 300, s"~half should get the fractional epoch, got $n3")
    assert(mixed.groupBy(col("doc_id"), col("epoch")).count()
      .filter(col("count") > 1).count() == 0, "epoch disambiguates copies")
  }

  test("writeShards: round-trips, manifest conserves counts, balance, determinism") {
    val dir = tempDir("shards").toString
    val docs = Tables.documents(spark, sf)
    val m1 = Mix.writeShards(docs, dir, 8, "doc_id", col("n_chars")).collect()
    // manifest conservation: rows and tokens sum to the corpus totals
    assert(m1.map(_.getLong(1)).sum == docs.count())
    assert(m1.map(_.getLong(2)).sum ==
      docs.agg(sum(col("n_chars"))).first().getLong(0))
    assert(m1.length == 8, "every shard directory gets a manifest row")
    // hash balance: no shard more than 2x the ideal share of 500 docs
    assert(m1.map(_.getLong(1)).max <= 2 * 500 / 8)
    // the written shards read back to exactly the input corpus, with the
    // input schema + shard and NOTHING else (no helper-column leakage
    // into the handoff artifact)
    val back = spark.read.parquet(s"$dir/shards")
    assert(back.columns.sorted.toSeq == (docs.columns :+ "shard").sorted.toSeq,
      s"exported schema polluted: ${back.columns.mkString(",")}")
    assert(back.count() == docs.count())
    assert(back.select(col("doc_id")).exceptAll(docs.select(col("doc_id"))).count() == 0)
    // shard column in files matches the content-hash assignment
    val misplaced = back.filter(
      col("shard") =!= pmod(xxhash64(col("doc_id")), lit(8L))).count()
    assert(misplaced == 0, s"$misplaced rows in the wrong shard file")
    // re-export reproduces the manifest bit-for-bit (checksums included)
    val dir2 = tempDir("shards2").toString
    val m2 = Mix.writeShards(docs, dir2, 8, "doc_id", col("n_chars")).collect()
    assert(m1.map(_.toString).toSeq == m2.map(_.toString).toSeq)
    // writeShards owns the 'shard' name — a clashing input must be refused
    intercept[IllegalArgumentException] {
      Mix.writeShards(docs.withColumn("shard", lit(1)), dir2, 8, "doc_id",
        col("n_chars"))
    }
  }

  test("writeShards checksum is a CONTENT checksum: same id+tokens, different text → different checksum") {
    // the r5 ADVICE hole: a substitution preserving (id, token_count)
    // passed the old (id, tokens)-only checksum; it must fail now
    import spark.implicits._
    val a = Seq((1L, "original text", 10L), (2L, "second doc", 10L))
      .toDF("doc_id", "text", "n_tok")
    val b = Seq((1L, "SUBSTITUTED text", 10L), (2L, "second doc", 10L))
      .toDF("doc_id", "text", "n_tok")
    val da = tempDir("ck_a").toString
    val db = tempDir("ck_b").toString
    val ma = Mix.writeShards(a, da, 1, "doc_id", col("n_tok"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val mb = Mix.writeShards(b, db, 1, "doc_id", col("n_tok"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ma.keySet == mb.keySet)
    assert(ma != mb, "content substitution must change the checksum")
  }

  test("packByTokenBudget: shards bounded by budget + max doc; deterministic") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val packed = Mix.packByTokenBudget(docs, "doc_id", "n_chars", 5000L, 8)
    val maxDoc = docs.agg(max(col("n_chars"))).first().getLong(0)
    val shardTotals = packed.groupBy(col("shard"))
      .agg(sum(col("n_chars")).as("t"))
    assert(shardTotals.filter(col("t") >= 5000L + maxDoc).count() == 0,
      "a shard can overflow only by the doc that crossed the boundary")
    // every doc lands in exactly one shard; assignment is reproducible
    assert(packed.count() == docs.count())
    val again = Mix.packByTokenBudget(docs, "doc_id", "n_chars", 5000L, 8)
    assert(packed.select(col("doc_id"), col("shard"))
      .exceptAll(again.select(col("doc_id"), col("shard"))).isEmpty)
  }

  test("apportionLargestRemainder: sums to budget exactly, within 1 of the exact quota") {
    val df = graft.Tables.documents(spark, sf)
    val budget = 997L // prime: guarantees nonzero remainders on this fixture
    val rows = graft.operators.Mix
      .apportionLargestRemainder(df, col("source"), budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val totalN = rows.map(_._2).sum
    assert(rows.map(_._3).sum == budget, s"allocations must sum to $budget: ${rows.toSeq}")
    rows.foreach { case (src, n, alloc) =>
      val quota = n.toDouble * budget / totalN
      assert(math.abs(alloc - quota) < 1.0,
        s"$src: alloc $alloc vs exact quota $quota (quota-rule violation)")
    }
    // degenerate budgets
    val zero = graft.operators.Mix
      .apportionLargestRemainder(df, col("source"), 0L)
      .collect().map(_.getLong(2))
    assert(zero.forall(_ == 0L))
  }
}
