package graft.operators

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The count-guarded driver fast-path dispatch shared by every iterative
  * operator ([[Graph]] power iteration, [[Dedup.connectedComponents]]
  * pointer jumping, [[TextAnalysis.bpeMerges]] merge rounds), and
  * [[pinAll]], the one way to overlap independent eager pins.
  *
  * The pattern exists because below a few hundred thousand input rows an
  * iterative distributed loop's wall time is pure JOB-SCHEDULING FLOOR —
  * rounds × (join + agg + action) stage launches on near-empty
  * partitions — while the identical recurrence over the collected input
  * runs in milliseconds on the driver. Above the guard the distributed
  * loop runs unchanged: the 100 TB path is untouched, and each operator
  * keeps a forced-small-threshold spec asserting the two paths agree.
  *
  * Ordering is load-bearing and is the reason this is ONE helper instead
  * of three hand-rolled copies: the input is EAGERLY localCheckpoint'ed
  * BEFORE the guard count, so (a) the count reads materialized blocks
  * instead of re-running the caller's lineage, (b) the local branch's
  * bounded `collect()` reads the same blocks, and (c) the distributed
  * branch — which typically reads its input more than once (symmetrize
  * unions, per-round joins) — never re-evaluates the caller's plan. A
  * copy that counted before checkpointing would silently double-run
  * expensive lineages; the helper makes that drift impossible.
  */
object Guarded {

  /** Checkpoint `input` eagerly, count the materialized blocks, and
    * dispatch: `n <= threshold` runs `local(checkpointed, n)` (whose
    * collect is bounded by the guard), else `distributed(checkpointed,
    * n)`. A negative `threshold` forces the distributed branch even on
    * empty input (the soak twins' forcing convention is `0L`, which
    * still routes n=0 locally so empty-input `require`s fire with their
    * messages on the cheap path).
    */
  def iterate[T](input: DataFrame, threshold: Long)(
      local: (DataFrame, Long) => T)(
      distributed: (DataFrame, Long) => T): T = {
    val ck = input.localCheckpoint(true)
    val n = ck.count()
    if (n <= threshold) local(ck, n) else distributed(ck, n)
  }

  /** Bounded-input collect in Spark's INTERNAL row format (graftbridge
    * `toRdd`), for the local twins: a plain `df.collect()` pays the
    * external-Row conversion (per-field boxing through the encoder) for
    * every row ON THE DRIVER after the job ends — measured r17 as a
    * ~0.4-0.5 s dead gap between the collect job and the next job on a
    * ~400k-edge relation. Rows are copied (the scan iterator reuses its
    * UnsafeRow); row ORDER is identical to `df.collect()` (same RDD,
    * same partition order), so first-seen index assignment and float
    * accumulation order in the twins are unchanged. Callers read fields
    * with `get(i, dataType)` / typed getters; string columns surface as
    * `UTF8String` (equal/hash by bytes — valid hash-map keys), and
    * [[extValue]] maps them back for externally-typed output rows.
    */
  def collectInternal(df: DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] =
    org.apache.spark.sql.graftbridge.Bridge.toInternalRdd(df)
      .map(_.copy()).collect()

  /** Bounded collect of an ALL-LONG relation as primitive column
    * arrays — the graph local twins' fast path. vs [[collectInternal]]
    * this ships k·8 bytes/row of primitives instead of copied
    * UnsafeRows (measured r18: the pagerank edge collect was 377 ms
    * wall for 148 ms of task time — the rest was the 1.16M-row copy +
    * object array ship), and the twins then index primitives instead
    * of boxed keys. Row order is IDENTICAL to `collect()` (same RDD,
    * partition-ordered concat), so first-seen index assignment and
    * float accumulation order are unchanged. Columns must be
    * non-nullable longs (every graph edge relation here is).
    */
  def collectLongCols(df: DataFrame, nCols: Int): Array[Array[Long]] = {
    val parts = org.apache.spark.sql.graftbridge.Bridge.toInternalRdd(df)
      .mapPartitions { it =>
        val bs = Array.fill(nCols)(new scala.collection.mutable.ArrayBuilder.ofLong)
        it.foreach { r =>
          var c = 0
          while (c < nCols) { bs(c) += r.getLong(c); c += 1 }
        }
        Iterator.single(bs.map(_.result()))
      }.collect()
    Array.tabulate(nCols) { c =>
      val total = parts.iterator.map(_(c).length).sum
      val out = new Array[Long](total)
      var off = 0
      parts.foreach { p =>
        System.arraycopy(p(c), 0, out, off, p(c).length); off += p(c).length
      }
      out
    }
  }

  /** Run independent eager pins concurrently and return their results
    * in `pins` order. Overlapping pins only overlaps their job-submission
    * floors; each pin's own result is untouched by the overlap.
    *
    * Each pin runs on a thread created for this call, so it inherits the
    * caller's Spark local properties (job group, description, tags) —
    * pooled threads would carry whatever they held when the pool made
    * them. All pins' jobs carry one tag per call: when a pin throws, the
    * siblings' jobs with that tag are cancelled (again every 50 ms, in
    * case a sibling submits a later job), every pin is waited for, and
    * the first failure is rethrown — no sibling job outlives the call.
    */
  def pinAll[T](spark: SparkSession)(pins: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-pinall-${pinAllCalls.incrementAndGet()}"
    val results = new Array[Any](pins.size)
    val failure = new AtomicReference[Throwable]()
    val threads = pins.zipWithIndex.map { case (pin, i) =>
      val th = new Thread(() => {
        sc.addJobTag(tag)
        try results(i) = pin()
        catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, s"$tag-$i")
      th.setDaemon(true)
      th
    }
    threads.foreach(_.start())
    threads.foreach { th =>
      while (th.isAlive) {
        if (failure.get != null) sc.cancelJobsWithTag(tag)
        th.join(50)
      }
    }
    if (failure.get != null) throw failure.get
    results.toSeq.map(_.asInstanceOf[T])
  }

  private val pinAllCalls = new AtomicLong

  /** Internal→external value for output-row assembly (UTF8String →
    * String; everything else is already the external representation for
    * the types the twins carry: boxed longs/ints/doubles).
    */
  def extValue(a: Any): Any = a match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case x => x
  }
}
