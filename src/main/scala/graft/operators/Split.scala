package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Train/validation/test split operators (reference `split_script.py` v1 and
  * `new_split_script.py` v2; SURVEY §2.5 T1–T4, §2.2 P6, §2.3 J2).
  *
  * The reference's v2 split abandoned Spark entirely (pandas on the driver,
  * `new_split_script.py:3-18`) — the exact scalability failure this engine
  * removes. Every operator here is a distributed DataFrame op:
  *
  *  - per-group fractional sampling = one shuffle on the group key
  *    (window `row_number` over a seeded content hash), O(1) state per row;
  *  - anti-joins replace pandas merge-indicator ([[antiJoin]]); the v2
  *    split needs none — it labels each row once per user;
  *  - no `collect`/`toPandas` anywhere — the 400-element driver-built
  *    IN-lists of v1 (`split_script.py:27-40`) become hash/sample labels
  *    computed on the executors.
  */
object Split {

  /** P6: label rows by membership of a key in driver-known id lists
    * (reference `split_script.py:40`). Only for small id lists — the lists
    * travel inside the plan. Prefer `labelByHash` at scale.
    */
  def labelByMembership(
      df: DataFrame,
      key: String,
      trainIds: Seq[Long],
      valIds: Seq[Long],
      labelCol: String = "train_val_test"): DataFrame =
    df.withColumn(labelCol,
      when(col(key).isin(trainIds: _*), lit("train"))
        .when(col(key).isin(valIds: _*), lit("validation"))
        .otherwise(lit("test")))

  /** Deterministic fraction sampling by an ARITHMETIC content hash
    * (Knuth multiplicative mixing, pure 64-bit integer ops): keep a row
    * iff `mix(keys) mod 10_000 < fraction * 10_000`.
    *
    * Three properties `df.sample()` / `rand(seed)` don't give you:
    * reproducible across engines (the mix is plain arithmetic — the same
    * expression runs in ANSI SQL, so sampled pipelines stay
    * oracle-checkable), stable under lazy re-evaluation and partition
    * recomputation (pure function of row content), and stable under data
    * APPEND (a row's keep/drop never changes when other rows arrive — the
    * property that makes incremental training-data refreshes consistent).
    * Map-only: pipelines into any scan, no shuffle, no driver state.
    */
  def hashSample(df: DataFrame, keys: Seq[Column], fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction")
    val mixed = keys.zipWithIndex
      .map { case (k, i) =>
        k.cast("long") * lit(Seq(2654435761L, 40503L, 2246822519L, 3266489917L)(i % 4))
      }
      .reduce(_ + _)
    df.filter(pmod(mixed, lit(10000L)) < lit((fraction * 10000).toLong))
  }

  /** EXACT-N deterministic sample: the `n` rows with the smallest content
    * hash (md5 of the key columns, ties broken by the serialized key) —
    * "hold out exactly 10k docs" for a fixed eval set, where
    * [[hashSample]] only controls the EXPECTED size. Plan shape is
    * `TakeOrderedAndProject` (per-partition heaps + a driver merge of
    * n·p rows, never a global sort — plan-asserted in SplitSpec), so it
    * scales like any top-k. md5 (not xxhash64) keys the order so the cut
    * is reproducible in ANSI SQL — the sampled SET is oracle-checkable.
    *
    * Deliberate trade-off vs [[hashSample]]: exact size is NOT
    * append-stable (new rows can displace old ones at the boundary —
    * inherent to any exact-N rule); pin the eval set by persisting it,
    * or use the fraction sampler where append-stability matters.
    */
  def exactNSample(df: DataFrame, n: Int, keys: Seq[Column]): DataFrame = {
    require(n >= 0, s"n $n")
    df.withColumn("__key", serializeKey(keys))
      .withColumn("__ord", md5(col("__key")))
      .orderBy(col("__ord"), col("__key"))
      .limit(n)
      .drop("__ord", "__key")
  }

  /** Injective serialization of a multi-column key: each part is
    * length-prefixed (`len:value`) before joining, so distinct keys can
    * never concatenate to the same string — ("ab","c") → "2:ab|1:c" vs
    * ("a","bc") → "1:a|2:bc" (a separator alone still collides when a
    * value CONTAINS the separator). A NULL part encodes as the fixed
    * marker `-:` — `-` can never be a length prefix, so (null,"a") and
    * ("a",null) stay distinct (bare `concat_ws` SKIPS null segments and
    * would collide them into the same order key, making the winner at a
    * limit boundary nondeterministic). The serialized key doubles as the
    * deterministic tiebreak column: rows with equal md5 (duplicate keys)
    * sort on the key itself, so which row crosses a limit-n boundary is a
    * pure function of content, never of execution order. Plain string
    * arithmetic — identical in ANSI SQL, so sampled sets stay
    * oracle-checkable (the DuckDB mirrors serialize non-null keys, whose
    * encoding is unchanged; mirror the `-:` marker there iff a sampled
    * key column is nullable).
    */
  private[graft] def serializeKey(keys: Seq[Column]): Column =
    concat_ws("|", keys.map { k =>
      val p = k.cast("string")
      coalesce(concat(length(p).cast("string"), lit(":"), p), lit("-:"))
    }: _*)

  /** STRATIFIED exact-N: exactly `n` rows PER GROUP (fewer iff the group
    * is smaller) — "hold out exactly N docs per source", the form
    * eval-set builders need when sources are imbalanced and a global cut
    * ([[exactNSample]]) would under-sample small sources. Same
    * deterministic order as [[exactNSample]] (md5 of the injectively
    * serialized key, ties broken by the key itself), same
    * oracle-reproducibility.
    *
    * Plan shape: ONE shuffle on the group key with the rank cut applied
    * as WindowGroupLimit on BOTH sides of the exchange (per-partition
    * bounded top-n heaps before the shuffle, final cut after — the
    * grouped analogue of [[exactNSample]]'s TakeOrdered; plan-asserted
    * in SplitSpec). No global sort, no corpus-wide single-partition
    * window.
    */
  def exactNPerGroup(df: DataFrame, n: Int, groupCol: Column,
      keys: Seq[Column]): DataFrame = {
    require(n >= 0, s"n $n")
    val w = Window.partitionBy(groupCol).orderBy(col("__ord"), col("__key"))
    df.withColumn("__key", serializeKey(keys))
      .withColumn("__ord", md5(col("__key")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn", "__ord", "__key")
  }

  /** BUDGETED per-group sample: cut each group at its OWN target count
    * from a small `targets` relation — the materialization step of a
    * computed mix ([[Mix.temperatureWeights]] produces `(group, target)`;
    * this selects exactly that many rows per group, deterministically by
    * the same md5-of-serialized-key order as [[exactNPerGroup]]).
    *
    * Plan note vs [[exactNPerGroup]]: a DATA-DEPENDENT limit (`rn <=
    * target` against a joined column) cannot use WindowGroupLimit's
    * pre-shuffle heaps — the plan is one shuffle on the group key + an
    * in-group sort + a broadcast join of the |groups|-row targets. Still
    * no global sort and no corpus-wide window; pay the heap optimization
    * only when the limit is a literal.
    */
  def budgetedSample(df: DataFrame, targets: DataFrame, groupCol: Column,
      keys: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col("__ord"), col("__key"))
    df.withColumn("__key", serializeKey(keys))
      .withColumn("__ord", md5(col("__key")))
      .withColumn("__rn", row_number().over(w))
      .join(broadcast(targets.select(groupCol.as("__g"), col("target").as("__t"))),
        groupCol === col("__g"))
      .filter(col("__rn") <= col("__t"))
      .drop("__rn", "__ord", "__key", "__g", "__t")
  }

  /** Deterministic modulo-hash split — the scale-safe, oracle-reproducible
    * replacement for driver-built id lists: label is a pure function of the
    * key, needs no shuffle, no driver state, and is identical in ANSI SQL.
    * Buckets [0,trainUpTo) → train, [trainUpTo,valUpTo) → validation,
    * rest → test.
    */
  def labelByHash(
      df: DataFrame,
      key: String,
      buckets: Int = 10,
      trainUpTo: Int = 6,
      valUpTo: Int = 8,
      labelCol: String = "train_val_test"): DataFrame = {
    val b = pmod(col(key), lit(buckets))
    df.withColumn(labelCol,
      when(b < trainUpTo, lit("train"))
        .when(b < valUpTo, lit("validation"))
        .otherwise(lit("test")))
  }

  /** T1: stratified sample with per-stratum fractions
    * (reference `split_script.py:43` `sampleBy`).
    */
  def sampleByLabel(
      df: DataFrame,
      labelCol: String,
      fractions: Map[String, Double],
      seed: Long): DataFrame =
    df.stat.sampleBy(labelCol, fractions, seed)

  /** T3: seeded per-group fractional sample — distributed form of the
    * reference's pandas `groupby(...).sample(frac)` (`new_split_script.py:6`).
    * Exact per group: takes `ceil(frac * n_g)` rows of each group, chosen by
    * a seeded pseudo-random order. One shuffle on `key`; rows never leave
    * executors.
    *
    * The "random" order is `xxhash64(seed, row content)`, NOT `rand(seed)`:
    * `rand` is a function of partition index + intra-partition row order,
    * and post-shuffle row order is nondeterministic — a lazily re-evaluated
    * sample would silently differ between plan subtrees (observed as split
    * leakage). A content hash is stable under any execution order, any
    * partitioning, and re-evaluation — the only sound construction for a
    * sample that downstream anti-joins must agree with.
    */
  def perGroupSample(df: DataFrame, key: String, frac: Double, seed: Long,
      saltCols: Seq[String] = Nil): DataFrame =
    df.withColumn("__pick", seededPick(Seq(col(key)), frac, seed,
        if (saltCols.nonEmpty) saltCols else df.columns.toSeq))
      .filter(col("__pick"))
      .drop("__pick")

  /** True iff the row is among the first `ceil(n·frac)` of the `n` rows of
    * its `part` partition, ranked by `xxhash64(seed, salt)` with ties broken
    * by the salt columns. The count runs over the whole frame of the same
    * ordered window, so both functions share one sort.
    */
  private def seededPick(part: Seq[Column], frac: Double, seed: Long,
      salt: Seq[String]): Column = {
    val order = salt.map(col)
    val w = Window.partitionBy(part: _*).orderBy(xxhash64(lit(seed) +: order: _*) +: order: _*)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    row_number().over(w) <= ceil(count(lit(1)).over(all) * frac)
  }

  /** J2/T4: left-anti complement (reference pandas merge-indicator,
    * `new_split_script.py:8,13`; scipy masking `extension.py:103`).
    */
  def antiJoin(df: DataFrame, other: DataFrame, keys: Seq[String]): DataFrame =
    df.join(other, keys, "left_anti")

  /** The reference v2 split, fully distributed: 25% of each user's rows →
    * validation; 25% of each user's remaining rows → test; rest → train
    * (`new_split_script.py:6-14`).
    *
    * One hash exchange on `userId`, and every row is labeled once. Per
    * user, the first `ceil(n·frac)` rows by the [[perGroupSample]] order
    * (`xxhash64(seed, <input cols>, __dup)`) are validation; of the `m`
    * rows left, the first `ceil(m·frac)` by `xxhash64(seed + 1, …)` are
    * test, salted and tie-broken on `userId, movieId, rating, __dup`
    * followed by the other input columns — the sample the reference's
    * sample-then-anti-join composition draws. The rest is train. The
    * three outputs are filters of that one labeled plan, each in the
    * input's column order; no join, no broadcast.
    *
    * `__dup` numbers EXACT duplicate rows (`row_number` over the full
    * row), so copies rank apart and split independently. Labels are per
    * row, not per value key, so rows that share (userId, movieId, rating)
    * but differ elsewhere (a MovieLens `timestamp`) are never dropped:
    * train ⊎ validation ⊎ test == input holds as a multiset.
    */
  def splitV2(ratings: DataFrame, frac: Double = 0.25, seed: Long = 1234L)
      : (DataFrame, DataFrame, DataFrame) = {
    val allCols = ratings.columns.toSeq
    val keys = Seq("userId", "movieId", "rating", "__dup")
    val dupW = Window.partitionBy(allCols.map(col): _*).orderBy(lit(1))
    // every window below partitions by a superset of userId, so this one
    // exchange serves them all
    val base = ratings.repartition(col("userId"))
      .withColumn("__dup", row_number().over(dupW))
    val labeled = base
      .withColumn("__val", seededPick(Seq(col("userId")), frac, seed, allCols :+ "__dup"))
      .withColumn("__test", !col("__val") && seededPick(Seq(col("userId"), col("__val")),
        frac, seed + 1, keys ++ allCols.filterNot(keys.contains)))
    def out(c: Column) = labeled.filter(c).select(allCols.map(col): _*)
    (out(!col("__val") && !col("__test")), out(col("__val")), out(col("__test")))
  }

  /** Distributed disjointness / completeness report (the invariant the
    * extension asserted on scipy matrices, `extension.py:150-152`):
    * one row of counts — any nonzero overlap means the split leaks.
    */
  def disjointnessReport(
      train: DataFrame, validation: DataFrame, test: DataFrame,
      keys: Seq[String]): DataFrame = {
    // one lazy plan (6 aggregate subtrees cross-joined as 1-row relations),
    // not 6 driver actions — keeps the check usable inside larger pipelines.
    def n(df: DataFrame, as: String) = df.agg(count(lit(1)).as(as))
    def overlap(a: DataFrame, b: DataFrame, as: String) =
      a.join(b, keys, "left_semi").agg(count(lit(1)).as(as))
    n(train, "n_train")
      .crossJoin(n(validation, "n_validation"))
      .crossJoin(n(test, "n_test"))
      .crossJoin(overlap(train, validation, "overlap_train_val"))
      .crossJoin(overlap(train, test, "overlap_train_test"))
      .crossJoin(overlap(validation, test, "overlap_val_test"))
  }
}
