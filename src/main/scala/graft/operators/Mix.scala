package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data composition operators: weighted source mixing and
  * token-budget packing — the two transforms that sit between a cleaned
  * corpus and a training run.
  */
object Mix {

  /** Weighted mixing: materialize source `df` at sampling weight `w`
    * (epochs): each row appears `floor(w)` times plus once more for the
    * deterministic `frac(w)` hash-sample of rows. An `epoch` column
    * disambiguates the copies (shufflers/downstream dedup see distinct
    * rows; the copy multiset is reproducible).
    *
    * Entirely map-side: replicate = explode of a literal sequence,
    * fractional part = [[Split.hashSample]] (content-hash — append-stable,
    * engine-portable). No shuffle, no rand().
    */
  def weighted(df: DataFrame, weight: Double, keys: Seq[Column]): DataFrame = {
    require(weight >= 0.0, s"weight $weight")
    val whole = math.floor(weight).toInt
    val frac = weight - whole
    val replicated =
      if (whole == 0) None
      else Some(df.withColumn("epoch",
        explode(sequence(lit(0), lit(whole - 1)))))
    val fractional =
      if (frac == 0.0) None
      else Some(Split.hashSample(df, keys, frac).withColumn("epoch", lit(whole)))
    val parts = replicated.toSeq ++ fractional.toSeq
    if (parts.isEmpty) df.withColumn("epoch", lit(0)).limit(0) // weight 0.0
    else parts.reduce(_ unionByName _)
  }

  /** Mix several same-schema sources at per-source weights. */
  def weightedMix(sources: Seq[(DataFrame, Double)], keys: Seq[Column]): DataFrame =
    sources.map { case (df, w) => weighted(df, w, keys) }.reduce(_ unionByName _)

  /** TEMPERATURE-scaled source weights — the standard multilingual /
    * multi-source mixing rule `w_s ∝ n_s^α`: α = 1 reproduces natural
    * proportions, α → 0 flattens toward uniform, the usual α ≈ 0.3–0.7
    * band up-samples small sources without letting any source dominate.
    * Returns one row per group: `(group, n, w_r, target)` where `w_r`
    * is the normalized weight ROUNDED to 6dp (the cross-engine
    * bit-equality contract) and `target = floor(w_r · budget)` computed
    * in DECIMAL so the cut is exact on any engine.
    *
    * Scale shape: one partial+final aggregate to per-group sizes
    * (|groups| rows), then the grand total attaches via a 1-row
    * broadcast crossJoin (the [[Popularity]] stats pattern) — the
    * normalization never shuffles the corpus, only the group relation.
    * Feed `target` into [[weighted]] (weight = target/n) or a
    * per-group [[Split.exactNSample]] cut to materialize the mix.
    */
  def temperatureWeights(df: DataFrame, groupCol: Column, alpha: Double,
      budget: Long, sizeCol: Column = lit(1L)): DataFrame = {
    require(alpha >= 0.0, s"alpha $alpha")
    require(budget >= 0L, s"budget $budget")
    val sized = df.groupBy(groupCol.as("group"))
      .agg(sum(sizeCol).as("n"))
      .withColumn("__w", pow(col("n").cast("double"), lit(alpha)))
    val total = sized.agg(sum(col("__w")).as("__tw"))
    sized.crossJoin(broadcast(total))
      .withColumn("w_r", round(col("__w") / col("__tw"), 6))
      .withColumn("target",
        floor(col("w_r").cast("decimal(18,6)") * lit(budget)).cast("long"))
      .select(col("group"), col("n"), col("w_r"), col("target"))
  }

  /** EXACT largest-remainder (Hamilton) apportionment of an integer
    * budget across groups, proportional to group counts — the
    * allocation rule a mixing planner needs when targets must sum to
    * EXACTLY the budget (temperatureWeights' per-group floor leaves a
    * remainder unassigned). All-integer arithmetic: quota floor =
    * (n·B) div N, remainder = (n·B) mod N, and the `B − Σfloor`
    * leftover units go to the largest remainders (group-name
    * tiebreak) — exactly portable to ANSI SQL, no float anywhere.
    * The ranking window is partitionless but runs over the
    * |groups|-row aggregate, never the corpus (the bounded-global-
    * window pattern; Spark's WARN is expected and harmless).
    */
  def apportionLargestRemainder(df: DataFrame, groupCol: Column,
      budget: Long): DataFrame = {
    require(budget >= 0L, s"budget $budget")
    val counts = df.groupBy(groupCol.as("group")).agg(count(lit(1)).as("n"))
    // NOT "N": Spark resolution is case-insensitive by default, so a
    // total column named N is ambiguous against the per-group n
    val total = counts.agg(sum(col("n")).as("grand_n"))
    val base = counts.crossJoin(broadcast(total))
      .withColumn("floor_alloc", expr(s"(n * ${budget}L) div grand_n"))
      .withColumn("rem", expr(s"(n * ${budget}L) % grand_n"))
    val allocated = base.agg(sum(col("floor_alloc")).as("allocated"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("group"))
    base.withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(allocated))
      .withColumn("alloc",
        col("floor_alloc") +
          when(col("rk") <= lit(budget) - col("allocated"), 1L).otherwise(0L))
      .select(col("group"), col("n"), col("alloc"))
  }

  /** ARRIVAL-ORDER budgeted admission — the batch twin of the streaming
    * per-source gate
    * ([[graft.streaming.EventStreams.budgetedMixIntake]]): admit the
    * FIRST `target` rows of each group in `orderCols` order, reject the
    * rest. Differs from [[Split.budgetedSample]] only in the order rule:
    * budgetedSample cuts by content-hash order (a deterministic SAMPLE
    * of the whole group), this cuts by a caller-supplied total order
    * (event time — what an online gate that sees rows arrive can
    * actually enforce). Same plan shape: one shuffle on the group key,
    * in-group sort, broadcast join of the |groups|-row targets.
    * The filter over [[labelByBudget]], which holds the one definition
    * of the rule.
    */
  def admitByBudget(df: DataFrame, targets: DataFrame, groupCol: Column,
      orderCols: Seq[Column]): DataFrame =
    labelByBudget(df, targets, groupCol, orderCols)
      .filter(col("__admit")).drop("__admit")

  /** [[admitByBudget]]'s rule as a label: keeps every row of `df` and
    * adds the boolean `__admit`, true iff the row is among the first
    * `target` rows of its group in `orderCols` order. Groups absent from
    * `targets` (and null groups) label false. For callers that need the
    * rejected rows as well, e.g. to count them in the same pass
    * ([[graft.streaming.EventStreams.curationIntake]]'s funnel).
    */
  def labelByBudget(df: DataFrame, targets: DataFrame, groupCol: Column,
      orderCols: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .join(broadcast(targets.select(groupCol.as("__g"), col("target").as("__t"))),
        groupCol === col("__g"), "left_outer")
      .withColumn("__admit", coalesce(col("__rn") <= col("__t"), lit(false)))
      .drop("__rn", "__g", "__t")
  }

  /** Token-budget packing: assign documents to training shards so each
    * shard holds ~`budget` tokens. Exact bin packing is sequential; the
    * distributed form salts documents into `nWorkers` independent streams
    * by content hash, orders each stream deterministically, and cuts it at
    * running-token boundaries:
    *
    *   shard = worker * 2^32 + floor((cumsum(tokens) - tokens) / budget)
    *
    * One shuffle (on the worker salt); per-stream state is a running sum
    * (bounded window frame). Oversized documents (> budget) get a shard
    * of their own by construction. Deterministic: worker and order are
    * content-hash functions, so the packing survives recomputation and
    * re-runs — reproducible shard manifests.
    */
  def packByTokenBudget(
      docs: DataFrame, idCol: String, tokenCol: String,
      budget: Long, nWorkers: Int = 32): DataFrame =
    packByTokenBudget(docs, idCol, tokenCol, budget, nWorkers,
      pmod(xxhash64(col(idCol)), lit(nWorkers.toLong)),
      xxhash64(lit(1), col(idCol)))

  /** Variant with caller-supplied worker/order hash expressions — e.g.
    * arithmetic mixing when the manifest must be reproducible in plain
    * ANSI SQL (xxhash64 is Spark-specific).
    */
  def packByTokenBudget(
      docs: DataFrame, idCol: String, tokenCol: String,
      budget: Long, nWorkers: Int,
      workerCol: Column, ordCol: Column): DataFrame = {
    require(budget > 0, s"budget $budget")
    require(nWorkers > 0, s"nWorkers $nWorkers")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__worker"))
      .orderBy(col("__ord"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .withColumn("__worker", workerCol)
      .withColumn("__ord", ordCol)
      .withColumn("__cum", sum(col(tokenCol)).over(w))
      .withColumn("shard",
        col("__worker") * lit(1L << 32) +
          floor((col("__cum") - col(tokenCol)) / lit(budget)).cast("long"))
      .drop("__worker", "__ord", "__cum")
  }

  /** Export a curated corpus as `nShards` hash-balanced parquet shard
    * directories plus a MANIFEST — the handoff artifact a training run
    * consumes (shard → row/token counts + an order-insensitive content
    * checksum, so the consumer can verify integrity without re-reading
    * the corpus). Returns the manifest DataFrame (also written under
    * `outDir/_manifest`).
    *
    * Scale shape: shard assignment is a content hash (deterministic,
    * append-stable — re-exporting the same corpus reproduces shard
    * membership exactly); ONE shuffle clusters rows by shard for the
    * writer (`repartition(shard)` → `partitionBy` emits one file set per
    * shard directory, no tiny-files explosion); the manifest derives
    * from the same sharded relation in one aggregate. Nothing collects;
    * bytes shuffle once.
    */
  def writeShards(df: DataFrame, outDir: String, nShards: Int,
      idCol: String, tokenCol: Column): DataFrame = {
    require(nShards > 0, s"nShards $nShards")
    require(!df.columns.contains("shard"),
      "input already has a 'shard' column — writeShards owns that name")
    val spark = df.sparkSession
    df.withColumn("shard", pmod(xxhash64(col(idCol)), lit(nShards.toLong)))
      .repartition(nShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/shards")
    // manifest derives from the FILES JUST WRITTEN, not from the input
    // plan: one upstream evaluation total (an expensive curation lineage
    // would otherwise run twice), and the checksums provably describe
    // what landed on disk rather than a recomputation of it
    val onDisk = spark.read.parquet(s"$outDir/shards")
    // checksum covers EVERY exported column (name-sorted for a stable
    // order), not just (id, token_count) — a substitution that preserves
    // id and token count must still fail verification (ADVICE r5). The
    // shard column is excluded: it's derived from id, and keeping it out
    // makes the per-row term shard-layout-independent.
    val contentCols = onDisk.columns.filterNot(_ == "shard").sorted.map(col)
    val manifest = onDisk
      .withColumn("__tok", tokenCol.cast("long"))
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__tok")).as("n_tokens"),
        // XOR of per-row hashes: order-insensitive, exact, mergeable,
        // and overflow-free under ANSI (sum of hashes would throw) —
        // the same checksum the consumer can recompute shard-local
        call_function("bit_xor", xxhash64(contentCols: _*))
          .as("checksum"))
      .orderBy(col("shard"))
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$outDir/_manifest")
    manifest
  }
}
