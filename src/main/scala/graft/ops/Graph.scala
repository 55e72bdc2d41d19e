package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionMemo, Tables}
import graft.Tables.Q

/** Graph analytics over relationship tables — the joins-and-aggregates
  * formulation (each power-iteration step is one equi-join + one
  * partial+final aggregate), which is exactly how PageRank runs on a
  * 1000-executor cluster: no driver-side adjacency, no vertex collect;
  * the driver loop is control flow only. Complements the connected-
  * components propagation in [[Dedup.connectedComponents]].
  */
object Graph {

  private val SCALE = 10000000L // ranks carried as fixed-point 1e-7 units

  /** Distinct (customer, supplier) co-purchase pairs — the shared edge
    * list of the whole graph family. The lineitem side fans out first
    * (gated, no-op at scale) so the broadcast join and the distinct's
    * partial aggregate parallelize instead of folding on the scan's task
    * count. */
  private def custSuppPairs(s: SparkSession, d: String) =
    Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(FanOut(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
          col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      // ONE exchange keyed on c, then a partition-local distinct:
      // HashPartitioning(c) satisfies the distinct's ClusteredDistribution
      // on {c, sk} (subset rule), so no second exchange — and the cached
      // edge list comes out PARTITIONED BY CUSTOMER, which every consumer
      // joins/aggregates on: the shared-customer self-joins (itemSims,
      // q_triangles, q_copurchase_sim) become exchange-free, and
      // q_recommend's per-(c, rec) score aggregate + top-3 window run
      // partition-local instead of shuffling the 20×-expanded score rows
      // (measured: the scoring exchange alone carried 677 MB / 11.1 M rows
      // at sf0.1 — guide §2.3 "aggregate before you shuffle", §2.4 "two
      // operations keyed the same way share one exchange"). Raw-vs-
      // distinct rows differ ~2% here, so shuffling pre-distinct rows
      // costs nothing next to the removed exchanges. The count is pinned
      // to the session's slot count (scale-adaptive — cluster cores, not a
      // constant): the exchange itself is small (~13 MB at sf0.1), so AQE
      // would coalesce it to ONE partition and serialize every downstream
      // consumer — the 20×-fanout scoring aggregate and the self-join pair
      // expansion would run single-threaded (measured: +3.1 s single-task
      // job). An explicit N keeps the cached edge list spread across all
      // slots, which is what a persisted, repeatedly-scanned working set
      // wants (guide §2.5 note on partition counts vs parallelism).
      .repartition(s.sparkContext.defaultParallelism, col("c"))
      .distinct()

  /** ONE persisted copy of the edge list per (session, dir) — before this
    * memo, q_recommend, q_recommend_probe, and q_copurchase_sim each
    * persisted their own copy with no in-query unpersist possible (the
    * returned plans are lazy), so a multi-query session pinned the same
    * data three times (review finding). Swept between timed runs, so
    * per-query bench numbers still pay the build. */
  private val edgeCache = SessionMemo[String, org.apache.spark.sql.DataFrame](
    "Graph", SessionMemo.Swept, SessionMemo.unpersist)

  /** ONE persisted copy of the top-20 item-CF similarity matrix per
    * (session, dir) — q_recommend and q_recommend_probe both consume the
    * identical [[itemSims]] build (the single most expensive shared stage
    * in the graph family, ~6 s at sf0.1), so a Verify session used to pay
    * it twice (r10 verdict task). Same lifecycle as [[edgeCache]]. */
  private val simsCache = SessionMemo[String, org.apache.spark.sql.DataFrame](
    "Graph", SessionMemo.Swept, SessionMemo.unpersist)

  private def cachedPairs(s: SparkSession, d: String) =
    edgeCache.getOrElseUpdate(s, d, custSuppPairs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def cachedSims(s: SparkSession, d: String) =
    simsCache.getOrElseUpdate(s, d, itemSims(cachedPairs(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Release every session's memoized edge list and sims matrix.
    * perfbench's `OpsWorkload.clearResidue` is its only caller, and it
    * goes with the next benchmark change; teardown is
    * [[graft.SessionMemo.clear]]. */
  def clearCaches(): Unit = SessionMemo.sweep("Graph", None)

  /** A (hi, lo) key pair packed into ONE long, `hi·2³² + lo`, for a
    * pair exchange. Injective only for keys in [0, 2³¹), so a key outside
    * that range fails the query through `raise_error` instead of colliding
    * silently; a null key packs to null. Row-local: no job, no exchange. */
  private def packPair(hi: Column, lo: Column): Column = {
    def outside(k: Column) = k < 0 || k > Int.MaxValue
    when(outside(hi) || outside(lo),
      raise_error(format_string("packed pair key outside [0, 2^31): (%s, %s)",
        hi, lo)))
      .otherwise(shiftleft(hi, 32) + lo)
  }

  /** The top-20 item-item micro-Jaccard similarity matrix over a
    * (c, sk) edge list — the single home of the item-CF matrix build
    * shared by q_recommend (score+serve in one query), q_recommend_probe
    * (build+bucket+probe), and ScaleRehearsal's recommend_serve workload;
    * the three inline copies had already begun to drift (review finding).
    * Micro-Jaccard is an exact INTEGER (round to 0 decimals is tie-exact
    * in both engines) so downstream score sums cannot straddle a rounding
    * boundary; the top-20 per-item truncation is the standard item-CF cut
    * that keeps the matrix linear in the item dimension (measured:
    * 51 s → 8.7 s at sf0.1). Deterministic (jac desc, partner asc). */
  private[graft] def itemSims(e0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // the degree table feeds TWO broadcast joins below; each
    // BroadcastExchange materializes its own subtree (the projections
    // differ, so no exchange reuse), which ran this aggregate — a full
    // pass over the cached edge list — twice (measured 19.3 s + 7.8 s
    // task time at sf0.1). Persisted, the second broadcast build reads
    // the dimension-sized cache instead (guide §2.4: duplicated subtrees).
    // Released by the session-wide persistent-RDD sweep in clearResidue.
    val deg = e0.groupBy("sk").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SYMMETRIC pair aggregation (s1 =!= s2), not "s1 < s2 then union the
    // swap": the union form evaluated the entire self-join + pair-count
    // subtree ONCE PER BRANCH (AQE materialized both 117 MB partial-agg
    // exchanges concurrently — no runtime exchange reuse across the union;
    // measured 2 × 103 MB shuffle writes and ~44 s duplicated task time at
    // sf0.1). One s1≠s2 pass shuffles the same total bytes but runs the
    // join and md5-free pair kernel once (guide §2.4: remove shuffles/
    // duplicate subtree evaluation outright). Values are identical: shared
    // and the jac formula are symmetric in (s1, s2), and the top-20 window
    // ordering (jac DESC, s2 ASC) never compared rows across the old
    // branches anyway. With e0 hash-partitioned on c (custSuppPairs), the
    // self-join itself is exchange-free.
    //
    // ONE exchange keyed on s1 serves the pair count AND the top-20
    // window (r12): the measured partial aggregate achieved ~no reduction
    // (206 MB shuffled ≈ the raw pair rows — within a c-partition almost
    // every (s1, s2) is unique), so shuffling the raw (s1, s2) pairs by
    // s1 moves FEWER bytes (no partial-count column), runs the hash
    // aggregate once instead of partial+final over the same 11 M rows,
    // and HashPartitioning(s1) satisfies both the groupBy(s1, s2)
    // clustering (subset rule) and the window's partitionBy(s1) — the
    // 7.7 MB window exchange disappears (guide §2.3 shuffle fewer bytes,
    // §2.4 two operations keyed the same way share one exchange).
    // Explicit slot-count N, not AQE: the downstream stage's cost is
    // pair-row CPU, which AQE's byte-based coalescing misjudges (~150 MB
    // advisory-coalesces to ~3 tasks and serializes the aggregate).
    // Skew: s1 is the supplier DIMENSION (uniform in this corpus; keys ≫
    // slots at any scale) — a genuinely hot item would make this the
    // salting case of guide §2.5.
    val byItem = org.apache.spark.sql.expressions.Window
      .partitionBy("s1").orderBy(desc("jac"), asc("s2"))
    // The raw pair rides the exchange as ONE packed long (r12 verdict
    // task 1a): p = s1·2³² + s2. Both ids are supplier keys — non-negative
    // and < 2³¹ for any supplier dimension up to SF ~2·10⁵ (TPC-H suppkey
    // = SF·10⁴), so the packing is injective and p never overflows or
    // goes negative; packPair fails the query on a key outside that
    // range. The exchange row narrows from two longs to one
    // (24 B → 16 B UnsafeRow; measured 172 MB → 140 MB lz4-compressed
    // shuffle bytes on the pair stage; guide §2.3 narrower types). Partition key stays s1
    // (= shiftright(p, 32)): HashPartitioning on it still serves the
    // pair-count aggregate (grouping {s1, p} ⊇ partition expr) AND —
    // via the aggregate's alias-aware output partitioning — the top-20
    // window's partitionBy(s1), so the one-exchange shape of r12 is
    // preserved (plan-pinned by PlanSpec).
    val n = e0.sparkSession.sparkContext.defaultParallelism
    e0.select(col("c"), col("sk").as("s1"))
      .join(e0.select(col("c"), col("sk").as("s2")), Seq("c"))
      .filter(col("s1") =!= col("s2"))
      .select(packPair(col("s1"), col("s2")).as("p"))
      .repartition(n, shiftright(col("p"), 32))
      .groupBy(shiftright(col("p"), 32).as("s1"), col("p"))
      .agg(count(lit(1)).as("shared"))
      .select(col("s1"), col("p").bitwiseAND(lit(0xFFFFFFFFL)).as("s2"),
        col("shared"))
      .join(broadcast(deg.select(col("sk").as("s1"), col("deg").as("d1"))), Seq("s1"))
      .join(broadcast(deg.select(col("sk").as("s2"), col("deg").as("d2"))), Seq("s2"))
      .select(col("s1"), col("s2"),
        round(col("shared") * lit(1000000L).cast("double")
          / (col("d1") + col("d2") - col("shared"))).cast("long").as("jac"))
      .withColumn("rk", row_number().over(byItem))
      .filter(col("rk") <= 20).drop("rk")
  }

  /** Oracle twin of [[itemSims]] — one string, spliced into both
    * recommend oracles (they had drifted-prone verbatim copies). Expects
    * an `e0(c, sk)` CTE in scope. */
  private val simsCtes: String =
    "deg AS (SELECT sk, count(*) AS deg FROM e0 GROUP BY sk), " +
      "half AS (SELECT a.sk AS s1, b.sk AS s2, " +
      "CAST(round(count(*) * 1000000.0 / (d1.deg + d2.deg - count(*))) AS BIGINT) AS jac " +
      "FROM e0 a JOIN e0 b ON a.c = b.c AND a.sk < b.sk " +
      "JOIN deg d1 ON a.sk = d1.sk JOIN deg d2 ON b.sk = d2.sk " +
      "GROUP BY a.sk, b.sk, d1.deg, d2.deg), " +
      "sims AS (SELECT s1, s2, jac FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY s1 ORDER BY jac DESC, s2) AS rk FROM " +
      "(SELECT s1, s2, jac FROM half " +
      "UNION ALL SELECT s2, s1, jac FROM half)) WHERE rk <= 20)"

  /** The purchase graph: one undirected edge per DISTINCT
    * (customer, supplier) pair that shares an order line, run as two
    * directed edges. Node ids are LONG-encoded — customer `custkey` as
    * +custkey, supplier `suppkey` as -(suppkey+1) (injective, both key
    * spaces are non-negative) — instead of the previous 'c<k>'/'s<k>'
    * concat strings: every downstream shuffle, degree aggregate, and
    * per-iteration rank join then hashes/compares an 8-byte long rather
    * than building and moving a string per edge row (guide §2.3 "narrower
    * types"; measured ~35 s of the pagerank/degree_dist task time was the
    * string-keyed aggregates). [[nodeName]] reconstructs the public
    * 'c…'/'s…' label at output time only. */
  private def purchaseEdges(s: SparkSession, d: String) = {
    val e0 = cachedPairs(s, d)
    e0.select(col("c").as("src"), (-col("sk") - 1).as("dst"))
      .union(e0.select((-col("sk") - 1).as("src"), col("c").as("dst")))
  }

  /** Public node label of a long-encoded node id (output-time only). */
  private def nodeName(n: org.apache.spark.sql.Column) =
    when(n >= 0, concat(lit("c"), n)).otherwise(concat(lit("s"), -n - 1))

  val queries: Map[String, Q] = Map(
    // PageRank, 3 power iterations, damping 0.85 — influence scoring over
    // the customer↔supplier purchase graph. All arithmetic is EXACT
    // fixed-point integer math (ranks in 1e-7 units; per-edge contribution
    // is BIGINT floor division by out-degree, damping is (85·Σ) div 100),
    // so every engine computes bit-identical ranks — no float-summation
    // order hazard. Scale shape: the degree-annotated edge list persists
    // once and each iteration is ONE equi-join (rank table onto edge
    // sources) + ONE map-side-combinable sum per destination — the
    // textbook BSP step; edges never move after the initial partition,
    // only the (node, rank) table shuffles, and the driver loop carries no
    // data. Top-50 by rank keeps the output bounded (TakeOrdered, no
    // global sort).
    "q_pagerank" -> ((s, d) => {
      val edges = purchaseEdges(s, d)
      // deg is consumed TWICE (the withDeg join build and the rank-table
      // init) and each consumer evaluated the full union+aggregate over
      // the edge list independently (measured: the two heaviest stages of
      // the query, ~20 s task time each at sf0.1). Persisted, the second
      // consumer reads the node-dimension-sized cache (guide §2.4);
      // released by clearResidue's persistent-RDD sweep.
      //
      // r13: built PER SIDE instead of aggregating the doubled union —
      // a customer's out-degree is its row count in e0 (an aggregate that
      // rides the cached edge list's HashPartitioning(c) with NO
      // exchange), a supplier's is its e0 count by sk (one dimension-
      // sized partial-agg exchange). Same values, half the rows through
      // the degree aggregate, one cache pass per side instead of the
      // two-pass union feeding a shuffled groupBy (guide §2.3/§2.4).
      val e0 = cachedPairs(s, d)
      val deg = e0.groupBy("c").agg(count(lit(1)).as("deg"))
        .select(col("c").as("src"), col("deg"))
        .union(e0.groupBy("sk").agg(count(lit(1)).as("deg"))
          .select((-col("sk") - 1).as("src"), col("deg")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // repartition BY src before persisting: the degree join broadcasts
      // (deg is dimension-sized), so without this the cached edge list
      // carries scan partitioning and every iteration re-shuffles it —
      // the explicit hash partitioning survives the cache
      // (InMemoryTableScan preserves outputPartitioning), so iterations
      // shuffle only the small (node, rank) table, which is the actual
      // "edges never move" contract claimed above
      // explicit slot-count N for the same reason as custSuppPairs: the
      // edge exchange is small at bench SF, and an AQE-coalesced
      // repartition(col) would leave every iteration's join running on
      // one or two partitions
      val withDeg = edges.join(deg, "src")
        .repartition(s.sparkContext.defaultParallelism, col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var ranks = deg.select(col("src").as("node"), lit(SCALE).as("pr"))
      // damping intermediate in DECIMAL(38,0) (oracle: DuckDB HUGEINT):
      // 85·Σcontrib can pass 2^63 once a hub's in-mass nears total mass at
      // ~1e10+ nodes; IntegralDivide on the decimal lands back in long
      // (safe while n·SCALE < 2^63, i.e. ~9e11 nodes — document, not wrap).
      for (_ <- 1 to 3) {
        ranks = withDeg.join(ranks, col("node") === col("src"))
          .select(col("dst"), expr("pr div deg").as("contrib"))
          .groupBy("dst")
          .agg((lit(15 * SCALE / 100) +
            expr("(85 * sum(cast(contrib as decimal(38,0)))) div 100"))
            .as("pr"))
          .select(col("dst").as("node"), col("pr"))
      }
      // reconstruct the public string label only for the bounded output;
      // ordering is on the LABEL (ties on pr break by string order, same
      // as the oracle)
      ranks.select(nodeName(col("node")).as("node"), col("pr"))
        .orderBy(desc("pr"), asc("node")).limit(50)
    }),

    // Degree distribution of the purchase graph, split by node side — the
    // first observability read on any graph workload (skew detection: a
    // heavy-degree node is tomorrow's hot-partition straggler). Scale
    // shape: two map-side-combined aggregates (node degree, then
    // histogram); output is bounded by the number of DISTINCT degrees,
    // never node count.
    "q_degree_dist" -> ((s, d) =>
      purchaseEdges(s, d)
        .groupBy("src").agg(count(lit(1)).as("deg"))
        // side off the long-encoded id (sign bit), not a substring of a
        // rebuilt label — the histogram never touches a string
        .groupBy(when(col("src") >= 0, lit("c")).otherwise(lit("s"))
          .as("side"), col("deg"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("side", "deg")),

    // Item-based collaborative filtering — top-3 new-supplier
    // recommendations per customer, scored by summed co-purchase Jaccard
    // against the customer's current suppliers (the classic "customers
    // who bought X also bought Y"). Scale shape: the item-item similarity
    // table is bounded by the supplier DIMENSION squared, so it joins the
    // customer edge list as a broadcast; already-owned candidates drop
    // via an anti-join; the per-customer top-3 is a rank window Spark
    // executes as WindowGroupLimit (per-partition heaps, no full sort).
    // Scores are sums of exact micro-Jaccard INTEGERS divided once at the
    // end, so values and rank order are engine-deterministic.
    "q_recommend" -> ((s, d) => {
      val e0 = cachedPairs(s, d)
      val sims = cachedSims(s, d)
      // broadcast(sims) is the right call while the top-20-truncated
      // matrix (20 rows per supplier) stays under the broadcast cap —
      // true for any supplier dimension up to ~10⁷. Past that (the 1e9-
      // supplier regime) a forced broadcast ABORTS at Spark's 8 GB hint
      // cap; the serving shape there is q_recommend_probe's bucketed
      // index join, which moves only the batch side. The hint is scoped
      // to the dimension claim, not an unconditional 100 TB contract.
      val scored = e0.join(broadcast(sims),
          col("sk") === col("s1"))
        .groupBy(col("c"), col("s2").as("rec"))
        // no round(): the sum is an exact integer, so the single division
        // is already bit-identical across engines — and round()'s
        // half-up-on-string vs half-even-on-binary mismatch would bite.
        // sum as LONG, not decimal(38,0) (r12): the per-group path count
        // is the customer's distinct-supplier degree — bounded by the
        // supplier DIMENSION, not corpus size — so with jac ≤ 1e6 the sum
        // wraps only past 9.2e12 paths in ONE (customer, rec) group, i.e.
        // a customer owning 9.2 trillion distinct catalog items; the
        // decimal path guarded an impossible case while costing a
        // non-fast-path Decimal add per expanded row (measured: the
        // scoring stage's dominant CPU at sf0.1). Below 2^53 the final
        // double division is bit-identical to the decimal path (and both
        // representations round the same integer above it).
        .agg((sum(col("jac")) / lit(1000000.0)).as("score"),
          count(lit(1)).as("n_paths"))
        .join(e0.select(col("c"), col("sk").as("rec")),
          Seq("c", "rec"), "left_anti")
      val top = org.apache.spark.sql.expressions.Window.partitionBy("c")
        .orderBy(desc("score"), desc("n_paths"), asc("rec"))
      scored.withColumn("rnk", row_number().over(top))
        .filter(col("rnk") <= 3)
        .select(col("c").as("custkey"), col("rnk"), col("rec"),
          col("score"), col("n_paths"))
        .orderBy("custkey", "rnk")
    }),

    // Incremental item-CF PROBE (r7 verdict task 7): the item-item
    // similarity matrix is q_recommend's expensive one-off artifact; a
    // production recommender builds it ONCE, saves it BUCKETED BY the
    // probe key (s1), and serves each customer batch with ZERO
    // matrix-side exchange — only the small batch side moves. Same
    // contract as q_dedup_index: drain the probe join, read the FINAL AQE
    // plan, and emit the machine-read verdict (no Exchange on s1 + a
    // bucketed matrix scan) as a column the oracle pins to 1. The batch
    // is the c % 37 == 5 customer slice; owned-item anti-join and
    // deterministic top-3 match q_recommend exactly, so the oracle is the
    // full-matrix SQL restricted to the batch.
    "q_recommend_probe" -> ((s, d) => {
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val wh = scratch(s"graft_rec_idx_$tag")
      val idxTbl = s"graft_rec_sims_$tag"
      val e0 = cachedPairs(s, d)
      dropAfter(s, wh, idxTbl) {
        // stream the sims build STRAIGHT into the bucketed writer (r12
        // verdict task 1b): inside this query the matrix is consumed
        // exactly once — the probe joins the TABLE, never the frame — so
        // the old cachedSims persist only added a block-cache write+read
        // between the build and the writer. A sims memo another query
        // already filled is still reused; this query just no longer
        // populates it (Bench clears memos per timed run anyway, and a
        // Verify-session q_recommend builds its own on demand).
        //
        // sortBy(s1) writes each bucket pre-sorted on the join key so
        // the probe's sort-merge join reads the matrix side without a
        // per-probe sort — the shape ScaleRehearsal's recommend_serve
        // already used (the two copies had drifted; review finding)
        simsCache.get(s, d).getOrElse(itemSims(e0))
          .write.mode("overwrite").bucketBy(8, "s1").sortBy("s1")
          .option("path", s"$wh/sims").saveAsTable(idxTbl)
        val batch = e0.filter(pmod(col("c"), lit(37L)) === 5)
        val joined = s.table(idxTbl).hint("merge")
          .join(batch, col("sk") === col("s1"))
        val scored = joined
          .groupBy(col("c"), col("s2").as("rec"))
          // long sum: same dimension-bounded-path rationale as q_recommend
          .agg((sum(col("jac")) / lit(1000000.0)).as("score"),
            count(lit(1)).as("n_paths"))
          .join(batch.select(col("c"), col("sk").as("rec")),
            Seq("c", "rec"), "left_anti")
        val top = org.apache.spark.sql.expressions.Window.partitionBy("c")
          .orderBy(desc("score"), desc("n_paths"), asc("rec"))
        val pre = scored.withColumn("rnk", row_number().over(top))
          .filter(col("rnk") <= 3)
          .select(col("c").as("custkey"), col("rnk"), col("rec"),
            col("score"), col("n_paths"))
          .orderBy("custkey", "rnk")
        // ONE execution (r12 shape drained the probe join a FIRST full
        // time just to finalize its AQE plan for the verdict, then the
        // checkpoint re-ran it inside the real query — measured ~0.7 s of
        // duplicated join/scan task time at sf0.1). The probe join is a
        // subtree of the executed final plan, so the verdict reads THAT:
        // every other exchange in this query keys on (c, …) or (sk, …),
        // never s1 — the only way "Exchange hashpartitioning(s1" can
        // appear is a matrix-side re-shuffle, exactly what the verdict
        // must catch.
        val out = pre.localCheckpoint(true)
        val finalPlan = pre.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val matrixExchanges = finalPlan
          .split(java.util.regex.Pattern.quote("Exchange hashpartitioning(s1"), -1)
          .length - 1
        val verdict =
          if (matrixExchanges == 0 && finalPlan.contains("Bucketed: true")) 1 else 0
        // appended AFTER the checkpoint: a literal projection over the
        // checkpointed (already sorted) RDD — row order and the published
        // column order (verdict last) are unchanged
        out.withColumn("matrix_side_exchange_free", lit(verdict))
      }
    }),

    // Triangle census of the co-purchase projection — the standard
    // community-structure probe, on the kNN-SPARSIFIED projection: each
    // node keeps edges to its top-5 partners by shared-customer count
    // (deterministic ties), the standard move that keeps co-occurrence
    // graphs tractable — a dense corpus otherwise yields a near-complete
    // projection whose wedge join is cubic in the dimension (measured:
    // 26 s → 4.5 s at sf0.1 — the rest is the shared-customer pair count). Degree is then bounded by construction, so
    // the canonical a<b<c wedge-close join — the MapReduce triangle
    // algorithm — touches ≤ 25 wedges per node. Exact integers.
    "q_triangles" -> ((s, d) => {
      val e0 = cachedPairs(s, d)
      // symmetric s1≠s2 pair aggregation, same rationale as itemSims: the
      // old "s1 < s2 then union the swap" evaluated the self-join + pair
      // count once per union branch (2 × 104 MB shuffle writes measured at
      // sf0.1); one symmetric pass halves the join work for identical
      // values, and the top-5 window keys directly off the aggregate.
      val byNode = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(desc("shared"), asc("v"))
      val edges = e0.select(col("c"), col("sk").as("u"))
        .join(e0.select(col("c"), col("sk").as("v")), Seq("c"))
        .filter(col("u") =!= col("v"))
        // one u-keyed exchange of the RAW pairs serves the count
        // aggregate AND the top-5 window (itemSims rationale: the partial
        // aggregate reduced ~nothing — 203 MB ≈ raw — so this both
        // narrows the shuffle rows and drops the window's own exchange);
        // pair packed into ONE long for the exchange (itemSims packing
        // rationale + bounds: supplier keys < 2³¹)
        .select(packPair(col("u"), col("v")).as("p"))
        .repartition(s.sparkContext.defaultParallelism,
          shiftright(col("p"), 32))
        .groupBy(shiftright(col("p"), 32).as("u"), col("p"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
        .select(col("u"), col("p").bitwiseAND(lit(0xFFFFFFFFL)).as("v"),
          col("shared"))
        .withColumn("rk", row_number().over(byNode))
        .filter(col("rk") <= 5)
        .select(least(col("u"), col("v")).as("s1"),
          greatest(col("u"), col("v")).as("s2"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = edges.select(col("s1").as("n"))
        .union(edges.select(col("s2").as("n"))).distinct()
      val wedges = edges.join(
        edges.select(col("s1").as("s2"), col("s2").as("s3")), Seq("s2"))
      val tris = wedges.join(
        edges.select(col("s1"), col("s2").as("s3")), Seq("s1", "s3"))
      nodes.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
        .crossJoin(tris.agg(count(lit(1)).as("n_triangles")))
    }),

    // Supplier similarity by shared customer base — Jaccard over DISTINCT
    // customer sets, the co-occurrence recommendation primitive. Scale
    // shape: pairs form through the shared-CUSTOMER equi-join, so a
    // customer buying from k suppliers contributes k² pair rows with k
    // bounded by the supplier DIMENSION (never corpus size); per-supplier
    // degrees broadcast back onto the bounded pair table; Jaccard is
    // exact-integer set algebra over distinct counts, rounded 6 dp.
    "q_copurchase_sim" -> ((s, d) => {
      val e0 = cachedPairs(s, d)
      // persisted for the same two-broadcast-consumers reason as itemSims
      val deg = e0.groupBy("sk").agg(count(lit(1)).as("deg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // raw pairs shuffled ONCE by s1 (itemSims rationale: the partial
      // aggregate achieves ~no reduction within c-partitions, so this
      // exchange carries fewer bytes than partially-counted (s1,s2,cnt)
      // rows, and the aggregate runs once); the final top-20 is a
      // TakeOrdered — no further exchange either way
      val pairs = e0.select(col("c"), col("sk").as("s1"))
        .join(e0.select(col("c"), col("sk").as("s2")), Seq("c"))
        .filter(col("s1") < col("s2"))
        // packed-pair exchange, itemSims rationale + bounds
        .select(packPair(col("s1"), col("s2")).as("p"))
        .repartition(s.sparkContext.defaultParallelism,
          shiftright(col("p"), 32))
        .groupBy(shiftright(col("p"), 32).as("s1"), col("p"))
        .agg(count(lit(1)).as("shared"))
        .select(col("s1"), col("p").bitwiseAND(lit(0xFFFFFFFFL)).as("s2"),
          col("shared"))
      pairs
        .join(broadcast(deg.select(col("sk").as("s1"), col("deg").as("d1"))), Seq("s1"))
        .join(broadcast(deg.select(col("sk").as("s2"), col("deg").as("d2"))), Seq("s2"))
        .select(col("s1"), col("s2"), col("shared"),
          // micro-Jaccard then ONE exact division — round(x, 6) on the
          // raw ratio is the half-up-on-string (Spark) vs binary-scaled
          // (DuckDB) mismatch q_recommend's jac documents: a decimal tie
          // at the 6th place can round differently per engine, and the
          // checker compares exact repr (review finding). Round to 0
          // decimals is tie-exact in both; the long/1e6 division is then
          // bit-identical IEEE.
          (round(col("shared") * lit(1000000.0)
            / (col("d1") + col("d2") - col("shared"))).cast("long")
            / lit(1000000.0)).as("jaccard"))
        .orderBy(desc("jaccard"), desc("shared"), asc("s1"), asc("s2"))
        .limit(20)
    })
  )

  /** 3 unrolled power-iteration CTEs — the oracle replays the exact
    * integer recurrence. */
  private val prIters: String = (1 to 3).map { i =>
    s"r$i AS (SELECT e.dst AS node, CAST(1500000 + " +
      s"(85 * sum(r.pr // d.deg)) // 100 AS BIGINT) AS pr " +
      s"FROM edges e JOIN deg d ON e.src = d.src " +
      s"JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst)"
  }.mkString(", ")

  val oracle: Map[String, String] = Map(
    "q_pagerank" ->
      ("WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "edges AS (SELECT 'c' || c AS src, 's' || sk AS dst FROM e0 " +
        "UNION ALL SELECT 's' || sk, 'c' || c FROM e0), " +
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src), " +
        "r0 AS (SELECT src AS node, CAST(10000000 AS BIGINT) AS pr FROM deg), " +
        prIters + " " +
        "SELECT node, pr FROM r3 ORDER BY pr DESC, node LIMIT 50"),
    "q_degree_dist" ->
      ("WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "edges AS (SELECT 'c' || c AS src FROM e0 " +
        "UNION ALL SELECT 's' || sk FROM e0), " +
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src) " +
        "SELECT substr(src, 1, 1) AS side, deg, count(*) AS n_nodes " +
        "FROM deg GROUP BY 1, 2 ORDER BY side, deg"),
    "q_triangles" ->
      ("WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "pairs AS (SELECT a.sk AS s1, b.sk AS s2, count(*) AS shared FROM e0 a " +
        "JOIN e0 b ON a.c = b.c AND a.sk < b.sk " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "dir AS (SELECT s1 AS u, s2 AS v, shared FROM pairs " +
        "UNION ALL SELECT s2, s1, shared FROM pairs), " +
        "knn AS (SELECT u, v FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY u ORDER BY shared DESC, v) AS rk FROM dir) WHERE rk <= 5), " +
        "edges AS (SELECT DISTINCT least(u, v) AS s1, greatest(u, v) AS s2 FROM knn), " +
        "nodes AS (SELECT DISTINCT n FROM " +
        "(SELECT s1 AS n FROM edges UNION ALL SELECT s2 FROM edges)), " +
        "tris AS (SELECT count(*) AS n_triangles FROM edges e1 " +
        "JOIN edges e2 ON e1.s2 = e2.s1 " +
        "JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2) " +
        "SELECT (SELECT count(*) FROM nodes) AS n_nodes, " +
        "(SELECT count(*) FROM edges) AS n_edges, n_triangles FROM tris"),
    "q_recommend" ->
      ("WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        simsCtes + ", " +
        "scored AS (SELECT e.c, s.s2 AS rec, sum(jac) / 1000000.0 AS score, " +
        "count(*) AS n_paths FROM e0 e JOIN sims s ON e.sk = s.s1 " +
        "GROUP BY e.c, s.s2), " +
        "fresh AS (SELECT sc.* FROM scored sc " +
        "WHERE NOT EXISTS (SELECT 1 FROM e0 x WHERE x.c = sc.c AND x.sk = sc.rec)), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY c " +
        "ORDER BY score DESC, n_paths DESC, rec) AS rnk FROM fresh) " +
        "SELECT c AS custkey, CAST(rnk AS INTEGER) AS rnk, rec, score, n_paths " +
        "FROM rk WHERE rnk <= 3 ORDER BY custkey, rnk"),
    "q_recommend_probe" ->
      ("WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        simsCtes + ", " +
        "batch AS (SELECT * FROM e0 WHERE c % 37 = 5), " +
        "scored AS (SELECT b.c, s.s2 AS rec, sum(jac) / 1000000.0 AS score, " +
        "count(*) AS n_paths FROM batch b JOIN sims s ON b.sk = s.s1 " +
        "GROUP BY b.c, s.s2), " +
        "fresh AS (SELECT sc.* FROM scored sc " +
        "WHERE NOT EXISTS (SELECT 1 FROM batch x WHERE x.c = sc.c AND x.sk = sc.rec)), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY c " +
        "ORDER BY score DESC, n_paths DESC, rec) AS rnk FROM fresh) " +
        "SELECT c AS custkey, CAST(rnk AS INTEGER) AS rnk, rec, score, n_paths, " +
        "1 AS matrix_side_exchange_free " +
        "FROM rk WHERE rnk <= 3 ORDER BY custkey, rnk"),
    "q_copurchase_sim" ->
      ("WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "deg AS (SELECT sk, count(*) AS deg FROM e0 GROUP BY sk), " +
        "pairs AS (SELECT a.sk AS s1, b.sk AS s2, count(*) AS shared " +
        "FROM e0 a JOIN e0 b ON a.c = b.c AND a.sk < b.sk GROUP BY 1, 2) " +
        "SELECT s1, s2, shared, " +
        // micro-jaccard / 1e6, mirroring the Spark side's tie-exact form
        "CAST(round(shared * 1000000.0 / (d1.deg + d2.deg - shared)) AS BIGINT) / 1000000.0 AS jaccard " +
        "FROM pairs JOIN deg d1 ON pairs.s1 = d1.sk " +
        "JOIN deg d2 ON pairs.s2 = d2.sk " +
        "ORDER BY jaccard DESC, shared DESC, s1, s2 LIMIT 20")
  )
}
