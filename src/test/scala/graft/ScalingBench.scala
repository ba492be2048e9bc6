package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve harness: replays declared queries over corpora replicated
  * ×k from one fixture directory and reports per-op wall-time growth — the
  * stepwise ratios and the least-squares log-log slope. Plan-shape claims
  * (inverted index instead of all-pairs, broadcast dimensions, bounded
  * top-k state) predict slope ≈1; an accidental all-pairs or corpus-wide
  * single-partition stage bends it towards 2, and an op with slope ≥1.5
  * is named WEAK.
  *
  * One [[Family]] per fixture family says which tables grow and how each
  * replica rewrites its rows; everything else — corpus build, cache
  * busting, warm-up, timing, memory observables and the summary — is
  * shared, so every family emits the same record format.
  *
  * Methodology:
  *  - Each timed run hands the query a path-equivalent but string-distinct
  *    dir (`…/x8/.`, `…/x8/./.`, …). The Tables and tokenPairs plan caches
  *    key on the dir STRING, so every run rebuilds and re-materializes
  *    from scratch. The string is unique across ALL runs, not per cell: a
  *    cache hit on a dir another run used would return a plan whose
  *    localCheckpoint blocks have since been unpersisted, and the run
  *    would die with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
  *  - Min of 2 timed runs per cell, after a per-op warm-up at the smallest
  *    scale (JIT + codegen cache); persistent RDDs are unpersisted before
  *    each run so storage pressure does not accumulate.
  *  - Per timed run a SparkListener sums task spill and shuffle bytes
  *    written and maxes peak execution memory.
  *  - Absolute seconds on a shared box are indicative only; the evidence
  *    is the ratios and slopes within one process.
  *
  * Density (`rows ÷ (k · rows at the smallest scale)`): an op whose output
  * grows with the input must read ≈1.0; an op with a fixed-key output
  * (closed-key aggregates, LIMIT-k, top-k of a fixed query set) must read
  * exactly 1/k, which certifies that its output keys did not grow.
  *
  * Run: `sbt -batch "Test/runMain graft.ScalingBench <family> <baseDir>
  * [k,k,…] [op,op,…] [table:keyCol,…]"` with `<family>` one of
  * llm | events | relational | embeddings and `<baseDir>` a fixture
  * directory such as sf0.1 (defaults: the family's scales and op list).
  * The last argument is relational-only: dimension tables to replicate
  * alongside the facts, each shifting only its key column — how
  * customer- and part-grain ops get a growing input.
  * Prints one `[scale]` JSON line per (op, scale) and a final
  * `[scale-summary]` JSON line. Corpora are rebuilt on every run under
  * `target/<family>_scaling`. Not part of any gate.
  */
object ScalingBench {

  /** A table grown ×k: `replica(base, r)` is replica r's rows, and
    * replica 0 keeps the original values.
    */
  final case class Replicated(table: String, replica: (DataFrame, Int) => DataFrame)

  /** @param quoted   (noun, table) pairs whose base row counts the corpus
    *                 and summary lines quote as `base_<noun>`.
    * @param density  summary key of the density check.
    * @param copied   tables written through unchanged.
    */
  final case class Family(
      ops: Seq[String],
      scales: Seq[Int],
      quoted: Seq[(String, String)],
      density: String,
      replicated: Seq[Replicated],
      copied: Seq[String] = Nil)

  final case class Cell(op: String, k: Int, rows: Long, wallS: Double,
      spillMb: Double, shuffleMb: Double, peakMb: Double)

  private def shiftKey(keyCol: String, step: Long): (DataFrame, Int) => DataFrame =
    (df, r) => df.withColumn(keyCol, col(keyCol) + lit(r.toLong * step))

  /** Documents — PERTURBED replication. Replica r shifts doc_id by r·10⁷
    * and suffixes every token with `~r`, keeping lang/source (blocks grow
    * ×k). Within a replica the near-dup structure is the original's;
    * across replicas no token, shingle, band or pair edge matches, so
    * clusters never merge and `pairs_vs_linear` must read ≈1.0.
    */
  private val llm = Family(
    ops = Seq(
      "dedup_jaccard_pairs", // tokenPairs: guarded postings + inverted-index join
      "dedup_ngram_jaccard", // hashed-shingle inverted index, df-guarded
      "dedup_components", // pointer-doubling CC over the pair graph
      "text_langid_chargram", // corpus trigram profile → broadcast overlap join
      "text_langid", // corpus term profile → broadcast overlap join
      "text_term_freq"), // per-language top-10 terms over all token counts
    scales = Seq(1, 8, 64),
    quoted = Seq("docs" -> "documents"),
    density = "pairs_vs_linear",
    replicated = Seq(Replicated("documents", (base, r) => {
      val text = if (r == 0) col("text") else regexp_replace(col("text"), "(\\S+)", "$1~" + r)
      base.select(
        (col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })))

  /** Events — USER replication. Replica r shifts user_id by r·10⁷ and
    * event_id by r·10⁸; every per-user stream is an exact copy, so streaks,
    * sessions, baskets and funnels are scale-invariant while user
    * cardinality grows ×k. Per-user-output ops read density ≈1.0; the
    * fixed-key ones (transition matrices, per-week DAU, basket pair
    * supports, day-spine concurrency) read exactly 1/k.
    */
  private val events = Family(
    ops = Seq(
      "behavior_confidence", // basket pair support + broadcast antecedent counts
      "behavior_lift", // pair support / independence over (user, day) baskets
      "behavior_cooccurrence", // blocked basket self-join
      "behavior_attribution", // ranked-first window + user-grain reduce
      "behavior_transitions", // per-user lag window → fixed transition matrix
      "cohort_retention", // two user-grain aggs + cohort agg
      "ts_sessionize", // per-user gap-based session islands
      "ts_active_concurrency", // interval overlap counts vs the day spine
      "ts_interarrival", // per-user lag deltas + distribution agg
      "ts_autocorr"), // per-type lag-k autocorrelation over the daily series
    scales = Seq(1, 8, 64),
    quoted = Seq("events" -> "events"),
    density = "rows_vs_linear",
    replicated = Seq(Replicated("events", (base, r) =>
      base.select(
        (col("event_id") + lit(r.toLong * 100000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(r.toLong * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props")))))

  /** TPC-H star — ORDER replication. Replica r shifts o_orderkey /
    * l_orderkey by r·10⁷; the dimensions are written through unchanged
    * unless named in `extra` (`table:keyCol`), which replicates them too
    * by shifting only the key. Facts grow ×k against fixed dimensions and
    * every foreign key still resolves. The fixed-output ops read exactly
    * 1/k; sub_correlated's predicate is scale-invariant, so it reads 1.0.
    */
  private def relational(extra: Seq[(String, String)]): Family = {
    val dims = Seq("region", "nation", "customer", "supplier", "part")
    val extraKeys = extra.toMap
    Family(
      ops = Seq(
        "join_star_q3", // 3-table star, LIMIT 10
        "join_star_q5", // 5-table star + broadcast region/nation, per-nation agg
        "join_star_q7", // 2-nation exchange, per-(nations, year) agg
        "join_star_q10", // 4-table star, LIMIT 20
        "join_promo_share", // lineitem × broadcast part, single-row share
        "join_value_concentration", // per-part revenue vs broadcast global mean
        "join_skew_salted", // 8-way salted orders×customer, per-segment agg
        "agg_pricing_summary", // TPC-H Q1, closed (returnflag, linestatus) keys
        "win_topk_per_group", // per-customer top-3 window over orders
        "sub_correlated"), // per-customer correlated aggregate over orders
      scales = Seq(1, 8, 64),
      quoted = Seq("orders" -> "orders", "lineitem" -> "lineitem"),
      density = "rows_vs_linear",
      replicated = Seq(
        Replicated("orders", shiftKey("o_orderkey", 10000000L)),
        Replicated("lineitem", shiftKey("l_orderkey", 10000000L))) ++
        dims.flatMap(t => extraKeys.get(t).map(k => Replicated(t, shiftKey(k, 10000000L)))),
      copied = dims.filterNot(extraKeys.contains))
  }

  /** Embeddings — SIGN-FLIP replication. Replica r shifts vec_id by r·10⁶
    * and maps dimension i to ±xᵢ with a deterministic per-(r, i) sign (bit
    * 20 of an LCG seeded on r·64 + i; the low LCG bits alternate
    * degenerately). A diagonal ±1 matrix is orthogonal, so within a
    * replica every cosine and neighbor rank is the original's, while the
    * fixed `vec_id < c` query/centroid/prior sets resolve to replica 0:
    * broadcast sides stay constant while the candidate side grows ×k.
    * Every op has a fixed-size output, so density must read exactly 1/k.
    * Neighbor identity can shift to cross-replica coincidences (the base
    * corpus has no planted near-dups); candidate work and output size do
    * not depend on it.
    */
  private val embeddings = Family(
    ops = Seq(
      "sim_cosine_topk", // brute-force top-5, 10 broadcast queries × corpus
      "sim_knn_label", // top-5 + label-vote window
      "sim_ann_lsh", // 8-bit hyperplane bucket join
      "sim_ann_ivf", // centroid assignment + in-cell probe
      "sim_ann_recall", // IVF top-5 vs exact top-5 overlap per query
      "sim_kmeans_step", // assignment + per-centroid mean recompute
      "sim_label_centroid", // per-label mean vector
      "dedup_embedding"), // 200 broadcast priors-scan queries × corpus
    // The 2k-vector base needs two decades for signal over fixed overhead.
    scales = Seq(1, 16, 256),
    quoted = Seq("vectors" -> "embeddings"),
    density = "rows_vs_linear",
    replicated = Seq(Replicated("embeddings", (base, r) => {
      val signed =
        if (r == 0) col("embedding")
        else transform(col("embedding"), (x, i) => {
          val lcg = (lit(r.toLong * 64L) + i.cast("long")) * lit(1103515245L) + lit(12345L)
          when(pmod(shiftright(lcg, 20), lit(2L)) === 0L, x).otherwise(x * lit(-1.0f))
        })
      base.select(
        (col("vec_id") + lit(r.toLong * 1000000L)).as("vec_id"),
        signed.as("embedding"),
        col("label"))
    })))

  private def family(name: String, extra: Seq[(String, String)]): Family = {
    require(extra.isEmpty || name == "relational",
      s"extra replicated tables apply to the relational family only, not $name")
    name match {
      case "llm" => llm
      case "events" => events
      case "relational" => relational(extra)
      case "embeddings" => embeddings
      case other => throw new IllegalArgumentException(
        s"unknown family '$other' (expected llm | events | relational | embeddings)")
    }
  }

  /** Least-squares slope of ln(wall) against ln(k), stepwise wall ratios
    * and the density check for one op, as the summary's JSON object.
    * `cells` are that op's cells, in any order.
    */
  private[graft] def opSummary(op: String, cells: Seq[Cell], density: String): String = {
    val cs = cells.sortBy(_.k)
    val xs = cs.map(c => math.log(c.k.toDouble))
    val ys = cs.map(c => math.log(c.wallS))
    val mx = xs.sum / xs.size; val my = ys.sum / ys.size
    val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    val ratios = cs.sliding(2).map { case Seq(a, b) =>
      f""""x${a.k}_to_x${b.k}":${b.wallS / a.wallS}%.2f""" }.mkString(",")
    val r1 = cs.head.rows.toDouble
    val densities = cs.map(c =>
      f""""x${c.k}":${c.rows / (c.k * r1)}%.3f""").mkString(",")
    val verdict = if (slope >= 1.5) "WEAK" else "subquadratic"
    f"""{"op":"$op","slope":$slope%.3f,"verdict":"$verdict",""" +
      f""""wall_ratios":{$ratios},"$density":{$densities}}"""
  }

  private final class TaskMetricsAgg extends SparkListener {
    val spill = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong(0)
    val peak = new java.util.concurrent.atomic.AtomicLong(0)
    def reset(): Unit = { spill.set(0); shuffleWrite.set(0); peak.set(0) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    }
  }

  /** Full-evaluation action. A bare `count()` lets Catalyst prune every
    * expression the count does not need — an aggregate-shaped op would
    * keep only its grouping keys and drop the windows feeding its
    * aggregates. Hashing every output column makes nothing prunable; the
    * row count rides the same action.
    */
  private def evalAll(df: DataFrame): Long =
    df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)")).head().getLong(0)

  private def csv(s: String): Seq[String] = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScalingBench <llm|events|relational|embeddings> " +
      "<baseDir> [k,k,…] [op,op,…] [table:keyCol,…]")
    val (name, baseDir) = (args(0), args(1))
    val extra = args.lift(4).map(csv(_).map { s => val p = s.split(":"); (p(0), p(1)) })
      .getOrElse(Seq.empty)
    val fam = family(name, extra)
    val scales = args.lift(2).map(csv(_).map(_.toInt)).getOrElse(fam.scales)
    val ops = args.lift(3).map(csv).getOrElse(fam.ops)
    val outBase = s"target/${name}_scaling" + extra.map("_" + _._1).mkString

    val spark = SparkSession.builder()
      .master("local[32]")
      .appName(s"$name-scaling-bench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val agg = new TaskMetricsAgg
    spark.sparkContext.addSparkListener(agg)

    def read(table: String): DataFrame = spark.read.parquet(s"$baseDir/$table.parquet")
    val baseCounts = fam.quoted.map { case (noun, table) => noun -> read(table).count() }

    // Each scaled corpus is written once, outside every timed region.
    def buildCorpus(k: Int): String = {
      val dir = s"$outBase/x$k"
      fam.replicated.foreach { t =>
        val base = read(t.table)
        (0 until k).map(r => t.replica(base, r)).reduce(_ unionByName _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$dir/${t.table}.parquet")
      }
      fam.copied.foreach(t => read(t).write.mode("overwrite").parquet(s"$dir/$t.parquet"))
      dir
    }

    val dirs = scales.map(k => k -> buildCorpus(k)).toMap
    scales.foreach(k => println(s"[scale] corpus x$k built: " +
      baseCounts.map { case (noun, n) => s"${k * n} $noun" }.mkString(", ")))

    def dropCheckpoints(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    def freshDir(dir: String): String = dir + ("/." * runCounter.incrementAndGet())

    ops.foreach { op =>
      evalAll(SparkEntry.queries(op)(spark, freshDir(dirs(scales.min))))
      dropCheckpoints()
    }

    val cells = for (op <- ops; k <- scales.sorted) yield {
      val runs = (0 until 2).map { _ =>
        dropCheckpoints()
        agg.reset()
        val t0 = System.nanoTime()
        val n = evalAll(SparkEntry.queries(op)(spark, freshDir(dirs(k))))
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // let the async listener bus drain
        Cell(op, k, n, wall, agg.spill.get / 1e6, agg.shuffleWrite.get / 1e6, agg.peak.get / 1e6)
      }
      val c = runs.minBy(_.wallS)
      println(f"""[scale] {"op":"${c.op}","x":${c.k},"rows":${c.rows},""" +
        f""""wall_s":${c.wallS}%.2f,"spill_mb":${c.spillMb}%.1f,""" +
        f""""shuffle_write_mb":${c.shuffleMb}%.1f,"peak_task_mem_mb":${c.peakMb}%.1f}""")
      c
    }

    val summaries = ops.map(op => opSummary(op, cells.filter(_.op == op), fam.density))
    val bases = baseCounts.map { case (noun, n) => s""""base_$noun":$n""" }.mkString(",")
    println(s"""[scale-summary] {$bases,"scales":[${scales.mkString(",")}],""" +
      s""""ops":[${summaries.mkString(",")}]}""")
    spark.stop()
  }
}
