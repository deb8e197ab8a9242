package perfbench

import java.util.SplittableRandom

import graft.streaming.EventStreams.SourcedDoc

import scala.collection.mutable

/** Seeded input generators. The seed drives only these; every engine
  * parameter stays at its reference value.
  */
object Inputs {

  /** One independent random stream per (seed, stream, index). */
  def rng(seed: Long, stream: Long, i: Long = 0L): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 31)) * 0xD6E8FEB86659FD93L
    new SplittableRandom(z ^ (z >>> 29))
  }

  // ---------------------------------------------------------------- ratings

  /** MovieLens-format ratings with a planted low-rank signal: every item
    * belongs to one of `topics`, every user has a main and a second topic,
    * and both the choice of items and the rating follow that affinity plus
    * item quality, user bias and noise. Item popularity is Zipf; per-user
    * counts are `minPerUser` plus a Lomax (heavy-tailed) draw.
    */
  final case class RatingsShape(users: Int, items: Int, topics: Int,
      minPerUser: Int, meanExtra: Double, maxPerUser: Int, files: Int)

  object RatingsShape {
    val full: RatingsShape = RatingsShape(users = 1200, items = 1500, topics = 16,
      minPerUser = 4, meanExtra = 20.0, maxPerUser = 300, files = 4)
    val small: RatingsShape = RatingsShape(users = 800, items = 1100, topics = 8,
      minPerUser = 4, meanExtra = 16.0, maxPerUser = 120, files = 2)
  }

  final case class Rating(user: Int, item: Int, halfStars: Int, ts: Int)

  def ratings(seed: Long, sh: RatingsShape): Seq[Rating] = {
    val r = rng(seed, 1)
    val topic = Array.fill(sh.items)(r.nextInt(sh.topics))
    val quality = Array.fill(sh.items)(gaussian(r) * 0.4)
    // Zipf weight by a random popularity rank
    val popRank = shuffled(r, sh.items)
    val weight = Array.tabulate(sh.items)(i => 1.0 / (popRank(i) + 1))
    val all = sampler((0 until sh.items).toArray, weight)
    val byTopic = Array.tabulate(sh.topics) { t =>
      val items = (0 until sh.items).filter(topic(_) == t).toArray
      sampler(items, items.map(weight))
    }
    val out = mutable.ArrayBuffer.empty[Rating]
    (0 until sh.users).foreach { u =>
      val main = r.nextInt(sh.topics)
      val second = r.nextInt(sh.topics)
      val bias = gaussian(r) * 0.3
      // Lomax(alpha = 1.5) has mean scale / 0.5
      val extra = sh.meanExtra * 0.5 * (math.pow(1.0 - r.nextDouble(), -1.0 / 1.5) - 1.0)
      val n = math.min(sh.maxPerUser, sh.minPerUser + extra.toInt)
      val seen = mutable.LinkedHashSet.empty[Int]
      var tries = 0
      while (seen.size < n && tries < n * 50) {
        val p = r.nextDouble()
        val s = if (p < 0.7) byTopic(main) else if (p < 0.9) byTopic(second) else all
        if (s._1.nonEmpty) seen += pick(r, s)
        tries += 1
      }
      seen.toSeq.sorted.foreach { i =>
        val affinity = (if (topic(i) == main) 1.0 else if (topic(i) == second) 0.5 else 0.0) +
          quality(i) + bias
        val stars = 2.25 + 1.5 * affinity + gaussian(r) * 0.5
        val half = math.max(1, math.min(10, math.round(stars * 2).toInt))
        out += Rating(u + 1, i + 1, half, 1500000000 + r.nextInt(100000000))
      }
    }
    out.toSeq
  }

  /** Writes `ratings` as headered CSV files under `dir` (users split into
    * `files` contiguous ranges, rows ordered by userId, movieId).
    */
  def writeRatings(seed: Long, sh: RatingsShape, dir: String): Long = {
    val rows = ratings(seed, sh)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val perFile = (sh.users + sh.files - 1) / sh.files
    rows.groupBy(x => (x.user - 1) / perFile).foreach { case (f, rs) =>
      val w = java.nio.file.Files.newBufferedWriter(
        java.nio.file.Paths.get(dir, f"part-$f%05d.csv"))
      try {
        w.write("userId,movieId,rating,timestamp\n")
        rs.foreach { x =>
          w.write(s"${x.user},${x.item},${x.halfStars / 2}.${if (x.halfStars % 2 == 1) 5 else 0},${x.ts}\n")
        }
      } finally w.close()
    }
    rows.size.toLong
  }

  // ------------------------------------------------------------------- docs

  /** The fixture documents' vocabulary: uniform words, 10 to 100 tokens. */
  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part fast " +
    "row the agg key query a scan batch").split(" ").toIndexedSeq

  val Sources: Seq[String] = (0 until 20).map(i => s"src$i")

  /** Feed sizes. `bLow` and `bHigh` put the per-batch count of index
    * repeats on both sides of the intake's 64-hash probe switch.
    */
  final case class FeedShape(novel: Int, bLow: Int, bHigh: Int, prevRepeats: Int,
      oldRepeats: Int, oldLag: Int, benchCarriers: Int, fitDocs: Int,
      prerunDocs: Int, benchDocs: Int)

  object FeedShape {
    val full: FeedShape = FeedShape(novel = 300, bLow = 40, bHigh = 100,
      prevRepeats = 30, oldRepeats = 30, oldLag = 3, benchCarriers = 20,
      fitDocs = 1500, prerunDocs = 1500, benchDocs = 50)
    val small: FeedShape = FeedShape(novel = 60, bLow = 10, bHigh = 70,
      prevRepeats = 10, oldRepeats = 10, oldLag = 3, benchCarriers = 5,
      fitDocs = 400, prerunDocs = 400, benchDocs = 20)
  }

  /** Document kinds, encoded in `doc_id` as `batch * 1e6 + kind * 1e5 + j`. */
  val Novel = 1; val IndexRepeat = 2; val PrevRepeat = 3; val OldRepeat = 4
  val BenchCarrier = 5

  val T0Ms: Long = 1704067200000L // 2024-01-01T00:00:00Z
  /** Event time advances six hours per batch. The intake's 2-hour
    * watermark lags one batch, so a repeat of the previous batch always
    * meets its original in the dedup state, and a repeat from three or more
    * batches back never does, whether or not Spark ran a no-data batch in
    * between.
    */
  val BatchStepMs: Long = 6 * 3600000L

  final case class Doc(id: Long, source: String, text: String)

  /** The curation feed. Corpora: gate-fit docs, bench docs (the
    * decontamination reference) and a pre-run corpus that set-up publishes
    * to the dedup index. Batch i (event time T0 + 6i hours) mixes
    * (a) novel docs, (b) exact repeats of gate-passing pre-run docs,
    * (c) repeats of batch i-1's novel docs, (d) repeats of novel docs from
    * `oldLag` or more batches earlier and (e) novel docs that carry a
    * 5-gram of a bench doc. Batches must be requested in order.
    */
  final class Feed(seed: Long, sh: FeedShape) {
    private val seen = mutable.HashSet.empty[String]
    private def fresh(r: SplittableRandom): String = {
      var t = text(r)
      while (!seen.add(t)) t = text(r)
      t
    }
    private def corpus(stream: Long, n: Int, base: Long): IndexedSeq[Doc] = {
      val r = rng(seed, stream)
      (0 until n).map(j => Doc(base + j, Sources(j % Sources.size), fresh(r)))
    }
    val fit: IndexedSeq[Doc] = corpus(10, sh.fitDocs, 0L)
    val bench: IndexedSeq[Doc] = corpus(11, sh.benchDocs, 0L)
    val prerun: IndexedSeq[Doc] = corpus(12, sh.prerunDocs, 0L)

    private var passing: IndexedSeq[Doc] = IndexedSeq.empty
    /** The pre-run docs that pass the gates: the pool for kind (b). */
    def setPassing(ids: Set[Long]): Unit = passing = prerun.filter(d => ids(d.id))

    private val novelOf = mutable.ArrayBuffer.empty[IndexedSeq[Doc]]

    def batch(i: Int): Seq[SourcedDoc] = {
      require(i == novelOf.size, s"batches are generated in order (next ${novelOf.size}, asked $i)")
      def id(kind: Int, j: Int) = i * 1000000L + kind * 100000L + j
      val r = rng(seed, 20, i)
      val a = (0 until sh.novel).map(j => Doc(id(Novel, j), Sources(j % Sources.size), fresh(r)))
      val nb = if (i % 2 == 0) sh.bLow else sh.bHigh
      val b = sample(r, passing, nb).zipWithIndex.map { case (d, j) =>
        Doc(id(IndexRepeat, j), d.source, d.text) }
      val c = if (i == 0) Nil else sample(r, novelOf(i - 1), sh.prevRepeats)
        .zipWithIndex.map { case (d, j) => Doc(id(PrevRepeat, j), d.source, d.text) }
      val d = if (i < sh.oldLag) Nil else {
        val pool = (0 to i - sh.oldLag).flatMap(novelOf)
        sample(r, pool, sh.oldRepeats).zipWithIndex.map { case (x, j) =>
          Doc(id(OldRepeat, j), x.source, x.text) }
      }
      val e = (0 until sh.benchCarriers).map { j =>
        val toks = bench(r.nextInt(bench.size)).text.split(" ")
        val at = r.nextInt(toks.length - 4)
        var t = ""
        do {
          val host = text(r).split(" ")
          val cut = r.nextInt(host.length + 1)
          t = (host.take(cut) ++ toks.slice(at, at + 5) ++ host.drop(cut)).mkString(" ")
        } while (!seen.add(t))
        Doc(id(BenchCarrier, j), Sources(j % Sources.size), t)
      }
      novelOf += a
      val ts = new java.sql.Timestamp(T0Ms + i * BatchStepMs)
      (a ++ b ++ c ++ d ++ e).map(x => SourcedDoc(x.id, ts, x.source, x.text))
    }
  }

  private def text(r: SplittableRandom): String = {
    val n = 10 + r.nextInt(91)
    (0 until n).map(_ => Vocab(r.nextInt(Vocab.size))).mkString(" ")
  }

  private def sample[T](r: SplittableRandom, xs: IndexedSeq[T], n: Int): IndexedSeq[T] =
    if (xs.isEmpty) IndexedSeq.empty
    else {
      val idx = shuffled(r, xs.size)
      (0 until xs.size).filter(i => idx(i) < n).map(xs)
    }

  // ------------------------------------------------------------ utilities

  private def gaussian(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** A random permutation of 0 until n: element i is i's position. */
  private def shuffled(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    (n - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  private def sampler(items: Array[Int], w: Array[Double]): (Array[Int], Array[Double]) =
    (items, w.scanLeft(0.0)(_ + _).tail)

  private def pick(r: SplittableRandom, s: (Array[Int], Array[Double])): Int = {
    val x = r.nextDouble() * s._2.last
    val k = java.util.Arrays.binarySearch(s._2, x)
    s._1(math.min(s._1.length - 1, if (k >= 0) k + 1 else -k - 1))
  }
}
