package graft.perfbench

import graft.functions.{GraftFunctions => F}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Layer probes of the traced run: each calls one layer's public
  * functions directly, from outside the library, inside a span named
  * after the layer, and forces the result with `toRdd.count()` (a
  * plain `count()` lets the optimizer prune the measured work).
  * Inputs come from the run's data directory and the seed.
  */
final class Probes(spark: SparkSession, dir: String, seed: Long, trace: Trace) {
  import spark.implicits._

  private def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs `body` in a span `reps` times; returns the median seconds,
    * the last result and the stage statistics of the last span. */
  private def timed[T](layer: String, name: String, reps: Int = 1)(body: => T)
      : (Double, T, Trace.StageStats) = {
    var last: Option[(T, Trace.Span)] = None
    val secs = (1 to reps).map { _ =>
      val s = trace.begin(s"probe/$layer.$name", layer, name)
      val r = try body finally trace.end(s)
      last = Some(r -> s)
      s.seconds
    }
    (median(secs), last.get._1, trace.statsOf(last.get._2))
  }

  private def table(name: String): DataFrame = PassMeter.table(spark, dir, name)

  /** `sources`: open (the `Tables` call) and a full-column scan. */
  def sources(tables: Seq[String]): Map[String, Double] = {
    val runs = tables.map { t =>
      val (openS, df, _) = timed("sources", s"open.$t", 3)(table(t))
      val (scanS, _, _) = timed("sources", s"scan.$t", 3)(force(df))
      (openS, scanS, new java.io.File(s"$dir/$t.parquet").length())
    }
    val scan = runs.map(_._2).sum
    Map("sources.open_s" -> runs.map(_._1).sum, "sources.scan_s" -> scan,
      "sources.scan_mb_per_s" -> runs.map(_._3).sum / 1e6 / scan)
  }

  /** The kernel corpus: every document `copies` times, in a seeded row
    * order, cached with the per-kernel input columns precomputed. */
  private def corpus(copies: Int): DataFrame = {
    val docs = table("documents").select($"doc_id", $"text")
    val c = docs.withColumn("copy", explode(sequence(lit(1), lit(copies))))
      .orderBy(xxhash64($"doc_id", $"copy", lit(seed)))
      .select($"text", $"text".substr(1, 16).as("name"),
        F.shingle_hash_set($"text").as("hs"))
      .repartition(trace.cores)
      .cache()
    force(c)
    c
  }

  private val minhashSeeds: Seq[Long] = {
    val r = new scala.util.Random(seed)
    Seq.fill(16)(r.nextLong())
  }

  /** The kernels, each with the column it reads; generators are
    * selected alone (they may not be nested in expressions). */
  private def kernels: Seq[(String, String, Column)] = Seq(
    ("token_count", "text", F.token_count($"text")),
    ("quality_signals", "text", F.quality_signals($"text")),
    ("winnow_fps", "text", F.winnow_fps($"text", 4)),
    ("char_ngrams", "text", F.char_ngrams($"text", 3)),
    ("token_windows", "text", F.token_windows($"text", 64, 16)),
    ("token_window_hashes", "text", F.token_window_hashes($"text", 5)),
    ("deletion_variant_hashes", "name", F.deletion_variant_hashes($"name", 2)),
    ("shingle_hashes", "text", F.shingle_hashes($"text")),
    ("shingle_hash_set", "text", F.shingle_hash_set($"text")),
    ("unicode_normalize", "text", F.unicode_normalize($"text")),
    ("fnv1a", "text", F.fnv1a($"text")),
    ("fnv1a_seeded", "text", F.fnv1a_seeded(seed, $"text")),
    ("minhash_sig", "text", F.minhash_sig(minhashSeeds, $"hs")),
    ("simhash64", "text", F.simhash64($"hs")))

  /** Built-in spellings the kernel specs pin the kernels against. */
  private def builtins: Seq[(String, String, Column)] = {
    val t = split($"text", " ")
    Seq(
      ("token_count", "text", size(t)),
      ("quality_signals", "text", struct(size(t), size(array_distinct(t)),
        size(filter(t, w => w === "the" || w === "a" || w === "of")),
        aggregate(transform(t, w => length(w).cast("long")), lit(0L), (a, x) => a + x))),
      ("minhash_sig", "text", array(minhashSeeds.map(s =>
        array_min(transform($"hs", h => F.fnv1a_seeded(s, h)))): _*)),
      ("simhash64", "text", (0 until 64).map { i =>
        when(aggregate($"hs", lit(0L), (acc, h) => acc + shiftright(h, i).bitwiseAND(1L)) * 2
          >= size($"hs"), lit(1L << i)).otherwise(0L)
      }.reduce(_ bitwiseOR _)))
  }

  /** `functions`: ns per input byte of each kernel over the corpus
    * (median of `reps`), and of each pinned built-in spelling. */
  def functions(copies: Int, reps: Int): Map[String, Double] = {
    val c = corpus(copies)
    val bytes = Seq("text", "name").map { col =>
      col -> c.select(sum(octet_length(c(col)))).as[Long].head().toDouble
    }.toMap
    def ns(kind: String)(k: (String, String, Column)): (String, Double) = {
      val (name, input, e) = k
      val (s, _, _) = timed("functions", s"$name.$kind", reps)(force(c.select(e)))
      s"functions.$name.$kind" -> s * 1e9 / bytes(input)
    }
    val out = kernels.map(ns("ns_per_byte")) ++ builtins.map(ns("builtin_ns_per_byte"))
    c.unpersist()
    out.toMap
  }

  /** `operators`: candidate pairs (MinHash bands) and their precision,
    * set-similarity and fuzzy self-joins, components over the
    * candidate graph, PageRank and SCC over co-purchases, a merge. */
  def operators(): Map[String, Double] = {
    val sets = table("documents")
      .select($"doc_id", F.shingle_hash_set($"text").as("hs"),
        $"text".substr(1, 16).as("name")).cache()
    force(sets)
    val bands = sets.select($"doc_id", F.minhash_sig(minhashSeeds, $"hs").as("sig"))
      .select($"doc_id", posexplode(array((0 until 4).map(b =>
        F.fnv1a((1 to 4).map(l => element_at($"sig", 4 * b + l)): _*)): _*)).as(Seq("band", "key")))
    val (candS, pairs, candSt) = timed("operators", "candidate_pairs") {
      val p = CandidatePairs.fromBuckets(bands, Seq("band", "key"), "doc_id", "a", "b").cache()
      force(p)
      p
    }
    val nPairs = pairs.count().toDouble
    val jac = size(array_intersect($"x.hs", $"y.hs")).cast("double") /
      size(array_union($"x.hs", $"y.hs"))
    val verified = pairs.join(sets.as("x"), $"a" === $"x.doc_id")
      .join(sets.as("y"), $"b" === $"y.doc_id")
      .filter(jac >= 0.5).count().toDouble
    val (ssjS, _, _) = timed("operators", "setsimjoin")(
      force(SetSimJoin.selfJoin(sets.select($"doc_id", $"hs"), "doc_id", "hs", 1, 2)))
    val (fuzzyS, _, _) = timed("operators", "fuzzy_pairs")(
      force(FuzzyMatch.pairsWithin(sets.select($"doc_id", $"name"), "doc_id", "name", 1)))
    val (ccS, _, ccSt) = timed("operators", "cc")(
      force(ConnectedComponents.components(pairs, "a", "b")))
    val li = table("lineitem").select($"l_orderkey", $"l_partkey")
    val copurchase = li.as("p").join(li.as("q"), "l_orderkey")
      .filter($"p.l_partkey" < $"q.l_partkey")
      .select($"p.l_partkey".as("u"), $"q.l_partkey".as("v")).distinct().cache()
    force(copurchase)
    val (prS, _, prSt) = timed("operators", "pagerank")(
      force(PageRank.ranks(copurchase.select($"u".as("src"), $"v".as("dst"))
        .unionAll(copurchase.select($"v".as("src"), $"u".as("dst"))), "src", "dst", 3)))
    // a directed graph with cycles: each co-purchase pair points one
    // way or the other by the parity of its endpoints
    val directed = copurchase
      .select(when(($"u" + $"v") % 2 === 0, $"u").otherwise($"v").as("src"),
        when(($"u" + $"v") % 2 === 0, $"v").otherwise($"u").as("dst"))
    val (sccS, _, sccSt) = timed("operators", "scc")(
      force(Scc.components(directed, "src", "dst")))
    val snapshot = table("orders").select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    val changes = snapshot.filter(xxhash64($"o_orderkey", lit(seed)) % 10 === 0)
      .select($"o_orderkey", lit("F").as("o_orderstatus"), ($"o_totalprice" + 1).as("o_totalprice"),
        $"o_orderkey".as("seq"),
        when($"o_orderkey" % 3 === 0, "D").otherwise("U").as("op"))
    val (mergeS, _, _) = timed("operators", "merge")(
      force(Merge.applyChangelog(snapshot, changes, Seq("o_orderkey"), "seq", "op")))
    pairs.unpersist(); sets.unpersist(); copurchase.unpersist()
    Map("operators.candidate_pairs_s" -> candS,
      "operators.candidate_pairs" -> nPairs,
      "operators.candidate_precision" -> (if (nPairs > 0) verified / nPairs else 0.0),
      "operators.candidate_jobs" -> candSt.jobs.toDouble,
      "operators.setsimjoin_s" -> ssjS, "operators.fuzzy_pairs_s" -> fuzzyS,
      "operators.cc_s" -> ccS, "operators.cc_jobs" -> ccSt.jobs.toDouble,
      "operators.pagerank_s" -> prS, "operators.pagerank_jobs" -> prSt.jobs.toDouble,
      "operators.scc_s" -> sccS, "operators.scc_jobs" -> sccSt.jobs.toDouble,
      "operators.merge_s" -> mergeS)
  }

  /** `plans`: the as-of join's clustered-merge and broadcast execs on
    * the urgent-orders fixture of the as-of queries. */
  def plans(): Map[String, Double] = {
    val o = table("orders")
    val probe = o.filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val build = o.filter($"o_orderpriority" =!= "1-URGENT")
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("prev_orderkey"))
      .select($"o_custkey".as("b_custkey"), $"o_orderdate".as("prev_orderdate"), $"prev_orderkey")
    def run(impl: (DataFrame, DataFrame, Column, Column, Column, Column, Seq[String]) => DataFrame) =
      force(impl(probe, build, probe("o_custkey"), build("b_custkey"),
        probe("o_orderdate"), build("prev_orderdate"), Seq("prev_orderkey", "prev_orderdate")))
    val (nativeS, rows, _) = timed("plans", "asof_native", 3)(run(AsOfJoin.asofMerge))
    val (bcastS, _, _) = timed("plans", "asof_broadcast", 3)(run(AsOfJoin.asofBroadcast))
    Map("plans.asof_native_s" -> nativeS, "plans.asof_broadcast_s" -> bcastS,
      "plans.asof_probe_rows_per_s" -> rows / nativeS)
  }

  /** `streaming`: the stream operators' batch spellings on events. */
  def streaming(): Map[String, Double] = {
    val ev = table("events")
    val dim = table("customer").select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
    val (followS, _, _) = timed("streaming", "follow_within", 3)(
      force(graft.streaming.EventStreams.followWithin5Min(ev, ev)))
    val (enrichS, _, _) = timed("streaming", "enrich_static", 3)(
      force(graft.streaming.EventStreams.enrichStatic(ev, dim, "user_id")))
    Map("streaming.follow_within_s" -> followS, "streaming.enrich_static_s" -> enrichS)
  }
}
