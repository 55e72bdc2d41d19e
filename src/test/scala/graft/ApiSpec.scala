package graft

import org.apache.spark.sql.functions._

/** The reusable DataFrame-in/DataFrame-out surface: the registered queries
  * exercise these against the driver tables, but a library user calls them
  * on their own frames — pin that contract directly on hand-built data. */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels a known graph by component minimum") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)).toDF("a", "b")
    val got = ops.Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connectedComponents converges on a long chain (pointer jumping)") {
    val n = 64
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val got = ops.Dedup.connectedComponents(pairs).collect()
    assert(got.length == n && got.forall(_.getLong(1) == 1L),
      "a 64-node chain is one component labeled by its minimum")
  }

  test("connectedComponents with a reliable checkpoint dir matches local mode") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ccdir").toString
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
      val got = ops.Dedup.connectedComponents(pairs, Some(dir)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      assert(new java.io.File(dir).listFiles().nonEmpty,
        "reliable mode must actually snapshot rounds into the caller's dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("candidatePairs drops degenerate hot buckets but keeps organic ones") {
    // one boilerplate bucket with 1000 members (O(k²) = 499,500 pairs if
    // expanded) + two organic near-dup buckets; the cap must bound the
    // output to the organic pairs only
    val hot = (1 to 1000).map(i => (i.toLong, 0, "hotkey"))
    val organic = Seq((2001L, 1, "k1"), (2002L, 1, "k1"),
      (3001L, 2, "k2"), (3002L, 2, "k2"), (3003L, 2, "k2"))
    val bands = (hot ++ organic).toDF("doc_id", "band", "bkey")
    val pairs = ops.Dedup.candidatePairs(bands, maxBucket = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2001L, 2002L), (3001L, 3002L), (3001L, 3003L),
      (3002L, 3003L)), s"hot bucket must not contribute pairs: $pairs")
    val dropped = ops.Dedup.oversizedBuckets(bands, 64).collect()
    assert(dropped.length == 1 && dropped.head.getAs[Long]("bsz") == 1000L,
      "the dropped bucket must be observable for telemetry")
  }

  test("embeddingNearDup finds planted duplicates at any signature width") {
    // deterministic pseudo-random unit-ish vectors + planted exact copies:
    // identical vectors share every hyperplane sign, so the planted pairs
    // survive ANY bits setting; wider signatures only split apart the
    // unrelated vectors
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(j => (((seed * 37 + j * 101) % 19) - 9).toFloat / 9f)
    val base = (0 until 40).map(i => (i.toLong, vec(i)))
    val plants = (0 until 5).map(i => (1000L + i, vec(i)))
    val df = spark.createDataFrame(
      (base ++ plants).map { case (id, v) => (id, v) }
    ).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    // bits=0 exercises the auto-width default (corpus-count-derived)
    for (bits <- Seq(0, 8, 14)) {
      val got = ops.Similarity
        .embeddingNearDup(df, "vec_id", "embedding", bits, minCos = 0.999)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = (0 until 5).map(i => (i.toLong, 1000L + i)).toSet
      assert(expected.subsetOf(got),
        s"bits=$bits must find every planted duplicate: missing ${expected -- got}")
    }
  }

  test("validateExpectations fuses arbitrary checks into one pass report") {
    val df = Seq((1, 10.0, "a"), (2, -3.0, "b"), (3, 200.0, null),
      (4, 5.0, "d")).toDF("id", "amount", "tag")
    val got = ops.Analytics.validateExpectations(df, Seq(
        "amount_nonneg" -> (col("amount").isNotNull && col("amount") < 0),
        "amount_below_100" -> (col("amount").isNotNull && col("amount") > 100),
        "tag_not_null" -> col("tag").isNull))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq(
      ("amount_below_100", 1L, 0),
      ("amount_nonneg", 1L, 0),
      ("tag_not_null", 1L, 0)))
    // a clean frame passes everything; empty frames are total (0, pass)
    val clean = ops.Analytics.validateExpectations(
        df.filter(col("id") === 1), Seq("neg" -> (col("amount") < 0)))
      .collect().head
    assert(clean.getLong(1) == 0L && clean.getInt(2) == 1)
    val empty = ops.Analytics.validateExpectations(
        df.filter(col("id") > 99), Seq("neg" -> (col("amount") < 0)))
      .collect().head
    assert(empty.getLong(1) == 0L && empty.getInt(2) == 1)
    // check names are user input spliced into stack() — quotes,
    // backslash escapes, and trailing backslashes must survive verbatim
    val awkward = Seq("it's", "path\\then", "dir\\")
    val names = ops.Analytics.validateExpectations(df,
        awkward.map(n => n -> (col("amount") < 0)))
      .collect().map(_.getString(0)).toSet
    assert(names == awkward.toSet, s"mangled names: $names")
  }

  test("semDedup drops planted near-dups keep-min, keeps nulls and originals") {
    // 64 well-separated base vectors (one per axis, scaled by id so norms
    // differ) + ×2 copies of every 4th id at id+1000 + one null-vector
    // row. Copies share their source's cluster under ANY clustering
    // (identical direction ⇒ identical centroid scores), so keep-min must
    // drop exactly the +1000 family.
    val base = (0 until 64).map { i =>
      val v = Array.fill(64)(0.01f); v(i) = 1f + i
      (i.toLong, v)
    }
    val copies = base.filter(_._1 % 4 == 0)
      .map { case (id, v) => (id + 1000L, v.map(x => x * 2f)) }
    val rows = (base ++ copies).toDF("id", "vec")
      .unionByName(Seq((5000L, null.asInstanceOf[Array[Float]]))
        .toDF("id", "vec"))
    val kept = ops.Similarity.semDedup(rows, "id", "vec", k = 8)
      .select("id").collect().map(_.getLong(0)).toSet
    assert((0 until 64).forall(i => kept(i.toLong)),
      "every base vector survives (it is the min id of its family)")
    assert(copies.forall { case (id, _) => !kept(id) },
      s"every ×2 copy is dropped; kept=${kept.filter(_ >= 1000L)}")
    assert(kept(5000L), "null-vector rows carry no geometry and are kept")
    // auto-k path: same semantics without the knob
    val keptAuto = ops.Similarity.semDedup(rows, "id", "vec")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptAuto == kept, "auto-k agrees with explicit k on this corpus")
    // k=1 = one global cluster (full exact pairwise dedup), NOT one
    // centroid per row: copies must still drop, distinct axes must stay
    val kept1 = ops.Similarity.semDedup(rows, "id", "vec", k = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(copies.forall { case (id, _) => !kept1(id) },
      "k=1 must still drop every ×2 copy (single cell holds all vectors)")
    assert((0 until 64).forall(i => kept1(i.toLong)),
      "k=1 must not over-drop well-separated vectors")
  }

  test("streaming assignClusters: NaN vectors route to the keep-all cell") {
    // a poison NaN row must not throw (BigDecimal(NaN)) — it lands in
    // cid -1 like null/zero-norm vectors, and ingestion continues
    import graft.streaming.StreamingDedup
    val centers = Seq((0L, Array.fill(64)(1f)), (1L, Array.fill(64)(-1f)))
    val vecs = Seq(
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.fill(64)(Float.NaN)),
      (3L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val got = StreamingDedup.assignClusters(vecs, centers)
      .collect().map(v => v.vec_id -> v.cid).toMap
    assert(got(1L) == 0L, "a finite vector assigns to its nearest centroid")
    assert(got(2L) == -1L && got(3L) == -1L,
      "NaN and null vectors both land in the always-keep cell")
  }

  test("autoBits keeps bucket occupancy constant as the corpus grows") {
    import ops.Similarity.autoBits
    assert(autoBits(0L) == 8 && autoBits(550L) == 8,
      "small corpora keep the historical 8-bit floor")
    assert(autoBits(300600L) == 17,
      "the 60x-rehearsal corpus must widen (fixed 8 bits measured 21-34x)")
    // invariant, not just anchors: occupancy n/2^bits stays in [1, 4)
    // between floor and cap
    for (n <- Seq(1000L, 10000L, 100000L, 1000000L, 10000000L)) {
      val occ = n.toDouble / (1L << autoBits(n))
      assert(occ >= 1.0 && occ < 4.0, s"n=$n occupancy=$occ")
    }
    assert(autoBits(Long.MaxValue / 2) == 24, "probe fan-out cap holds")
  }

  test("nearDedupKeepBest keeps the highest-quality member of each family") {
    // two near-dup families built by word overlap (>=50% 3-shingle
    // Jaccard); within each, the BEST copy has the HIGHER id, so keep-min
    // would get both wrong
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base2 = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, base1, 5),   // family A, low quality
      (2L, base1 + " lambda", 9), // family A, best — must survive
      (30L, base2, 4),  // family B, low quality
      (31L, base2 + " eleven", 8), // family B, best — must survive
      (100L, "completely unrelated text with distinct words entirely", 7)
    ).toDF("doc_id", "text", "quality")
    val kept = ops.Dedup
      .nearDedupKeepBest(docs, "doc_id", "text", "quality")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 31L, 100L),
      s"keep-best must pick the high-quality members: $kept")
    // same clusters under keep-min survive by lowest id instead
    val keptMin = ops.Dedup.nearDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptMin == Set(1L, 30L, 100L))
  }

  test("packSequences shards by the requested bucket count and conserves mass") {
    val df = spark.range(500).toDF("id")
      .withColumn("toks", col("id") % 300 + 1)
    val out = ops.Curation.packSequences(df, "id", "toks", 1000L, 8)
    assert(out.select("bucket").distinct().count() == 8L)
    val agg = out.agg(sum("n_docs"), sum("pack_tokens")).head
    assert(agg.getLong(0) == 500L)
    assert(agg.getLong(1) == df.agg(sum("toks")).head.getLong(0))
    // the default bucket count follows the session's shuffle parallelism —
    // the window stage scales with the cluster instead of a constant
    val defBuckets = ops.Curation.packSequences(df, "id", "toks", 1000L)
      .select("bucket").distinct().count()
    assert(defBuckets ==
      math.min(spark.sessionState.conf.numShufflePartitions, 500))
  }

  test("nearDedup drops Jaccard-verified near-duplicates, keeps min id") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val near = base.replace("tango", "zulu") // 17/19 shingle Jaccard ≈ 0.89
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val df = Seq((1L, base, "s1"), (2L, near, "s2"), (3L, other, "s3"))
      .toDF("id", "txt", "src")
    val out = ops.Dedup.nearDedup(df, "id", "txt")
    assert(out.columns.toSeq == Seq("id", "txt", "src"), "schema unchanged")
    val kept = out.select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"near-dup 2 must drop, unrelated 3 stay: $kept")
  }

  test("exactDedup keeps the lowest-leading-column row per content value") {
    val df = Seq((5L, "x", "s2"), (1L, "x", "s1"), (3L, "y", "s3"),
      (2L, "y", "s0")).toDF("id", "text", "src")
    val got = ops.Dedup.exactDedup(df, "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "x", "s1"), (2L, "y", "s0")))
  }

  test("redactPii counts and scrubs on arbitrary frames") {
    val df = Seq((1L, "mail me at a.b@x.io or call 415-555-0199"),
      (2L, "see https://ex.org/a and b@y.co")).toDF("id", "txt")
    val out = ops.Curation.redactPii(df, "txt").orderBy("id").collect()
    assert(out(0).getAs[Int]("n_emails") == 1 && out(0).getAs[Int]("n_phones") == 1)
    assert(out(1).getAs[Int]("n_urls") == 1 && out(1).getAs[Int]("n_emails") == 1)
    assert(out.forall(r => !r.getAs[String]("redacted").contains("@")))
    assert(out(0).getAs[String]("redacted").contains("<PHONE>"))
  }

  test("stratifiedSplit is total, three-way, and train-heavy") {
    val df = spark.range(1000).toDF("id")
    val counts = ops.Curation.stratifiedSplit(df, "id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 1000L)
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
  }

  test("leakageSafeSplit keeps near-dup families in one split") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    // a 3-member family chained through pairwise near-dups, plus unrelated
    // singletons — the family must co-travel regardless of member ids
    val docs = Seq(
      (1L, base), (2L, base.replace("tango", "zulu")),
      (3L, base.replace("alpha", "zeta")),
      (100L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen"),
      (200L, "red orange yellow green blue indigo violet cyan magenta " +
        "black white gray brown pink teal maroon navy olive lime"))
      .toDF("id", "txt")
    val out = ops.Dedup.leakageSafeSplit(docs, "id", "txt")
    assert(out.columns.toSeq == Seq("id", "txt", "split"), "schema + split")
    val bySplit = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(bySplit.size == 5, "split assignment is total")
    assert(bySplit(1L) == bySplit(2L) && bySplit(2L) == bySplit(3L),
      s"the near-dup family must land in one split: $bySplit")
  }

  test("oversized-bucket telemetry fires and capped families still co-travel") {
    // 800 near-dup boilerplate docs: a shared 40-word boilerplate plus one
    // unique trailing word — NOT exact duplicates, so exactDedup could not
    // collapse them, and every band's modal bucket far exceeds the default
    // 512 cap. This is exactly the family the cap silently dropped before.
    val boiler = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = (1 to 800).map(i => (i.toLong, s"$boiler tail$i"))
      .toDF("id", "txt")
    val obs1 = org.apache.spark.sql.Observation()
    val out = ops.Dedup.nearDedup(docs, "id", "txt", obs = Some(obs1))
    // the capped modal buckets yield no verified pairs, so the family is
    // NOT collapsed (a handful of docs may still pair up through small
    // uncapped buckets when their 16-bit min slices collide — those are
    // genuine Jaccard-0.95 verified drops, not cap leakage)
    val kept = out.count()
    assert(kept >= 790L && kept < 800L + 1L,
      s"family must survive essentially uncollapsed, kept $kept of 800")
    val m1 = obs1.get
    assert(m1("oversized_buckets").asInstanceOf[Long] >= 1L,
      s"oversized_buckets must fire: $m1")
    assert(m1("oversized_docs").asInstanceOf[Long] > 512L,
      s"oversized_docs must count the capped members: $m1")

    // leakageSafeSplit must route the ENTIRE capped family into one split
    // via the star edges, not scatter it across splits by id hashes
    val obs2 = org.apache.spark.sql.Observation()
    val split = ops.Dedup.leakageSafeSplit(docs, "id", "txt", obs = Some(obs2))
    val splits = split.select("split").distinct().collect().map(_.getString(0))
    assert(splits.length == 1,
      s"capped boilerplate family must land in ONE split, got ${splits.toSeq}")
    assert(obs2.get("oversized_buckets").asInstanceOf[Long] >= 1L,
      "telemetry must fire from leakageSafeSplit too")
  }

  test("temperatureSample flattens a skewed mix toward the small source") {
    // 512 'big' rows vs 32 'small' rows: at T=2 the big source keeps
    // ~√(32/512) = 25%, the small one keeps ~everything
    val df = ((1 to 512).map(i => (i.toLong, "big")) ++
      (1001 to 1032).map(i => (i.toLong, "small"))).toDF("id", "src")
    val out = ops.Curation.temperatureSample(df, "id", "src", temperature = 2.0)
    assert(out.columns.toSeq == Seq("src", "id"), "schema preserved (no helper columns)")
    val kept = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBig = kept.getOrElse("big", 0L).toDouble / 512
    val keptSmall = kept.getOrElse("small", 0L).toDouble / 32
    assert(math.abs(keptBig - 0.25) < 0.15, s"big keep rate $keptBig vs 0.25")
    assert(keptSmall > 0.8, s"small keep rate $keptSmall should be ~1")
    // T=1 is exactly a no-op: rate >= 1 emits the 'g' sentinel threshold,
    // which sorts after every 4-hex-digit md5 prefix (including 'ffff')
    val all = ops.Curation.temperatureSample(df, "id", "src", temperature = 1.0)
    assert(all.count() == df.count(), "T=1 keeps every row exactly")
  }

  test("decontaminate removes shingle-overlapping rows, keeps clean ones") {
    val evalDf = Seq(("the quick brown fox jumps over the lazy dog tonight"))
      .toDF("question")
    val train = Seq(
      (1L, "somewhere the quick brown fox appears in this training text here"),
      (2L, "completely unrelated words fill this clean document about spark"),
      (3L, "short"))  // fewer than 3 words: degraded shingle, must survive
      .toDF("id", "txt")
    val out = ops.Curation.decontaminate(train, "id", "txt", evalDf, "question")
    assert(out.columns.toSeq == Seq("id", "txt"), "schema unchanged")
    val kept = out.select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L),
      s"doc 1 shares 'the quick brown'/'quick brown fox' with eval: $kept")
  }

  test("decontaminate is total on an empty eval set and releases its " +
      "blooms via clearCaches") {
    // stat.bloomFilter NPEs on a zero-row aggregate; the guard lived only
    // in q_contamination_bloom's inline copy until the r10 review — the
    // public API must be a clean no-op on an empty benchmark
    val train = Seq(
      (1L, "some perfectly ordinary training text with several words here"),
      (2L, "another clean document about spark and scala goes right here"))
      .toDF("id", "txt")
    val out = ops.Curation.decontaminate(train, "id", "txt",
      Seq.empty[String].toDF("question"), "question")
    assert(out.count() == 2L, "empty eval set must remove nothing")
    // and the session ledger releases what the calls registered: after
    // clearCaches the probe functions are gone from the registry
    ops.Curation.clearCaches(spark)
    val leftover = spark.sessionState.functionRegistry.listFunction()
      .filter(_.funcName.startsWith("graft_bloom_"))
    assert(leftover.isEmpty, s"bloom probes leaked: $leftover")
  }

  test("decontaminate ships the bloom as a broadcast, not a plan literal") {
    // a deliberately large eval set: with the old lit() form the filter
    // bytes would ride in the plan and grow with it; the broadcast form
    // keeps the plan free of binary literals at any eval size
    val evalDf = (1 to 2000)
      .map(i => s"evaluation item number $i tokens a$i b$i c$i d$i e$i")
      .toDF("question")
    val train = (1 to 50)
      .map(i => (i.toLong, s"training row $i clean words x$i y$i z$i w$i"))
      .toDF("id", "txt")
    val out = ops.Curation.decontaminate(train, "id", "txt", evalDf, "question")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val binLits = out.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case l: Literal if l.dataType == BinaryType => l
      })
    }.flatten
    assert(binLits.isEmpty, "bloom bytes must not appear as a plan literal")
    assert(out.queryExecution.optimizedPlan.toString.length < 20000,
      "plan text must stay flat — a broadcast handle, not a serialized bitset")
    assert(out.count() == 50L, "no eval shingle overlaps the training rows")
  }

  test("stripBoilerplate strips cross-doc blocks, keeps in-doc-only repeats") {
    val docs = Seq(
      (1L, "a b c d e f g h x1 x2 x3 x4"), // "a b c d" shared with doc 2
      (2L, "p q r s a b c d y1 y2"), // shares the block at ANOTHER position
      (3L, "m n o t m n o t z1 z2 z3") // block repeats only WITHIN this doc
    ).toDF("id", "text")
    val out = ops.TextAnalysis.stripBoilerplate(docs, "id", "text",
        blockWords = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_blocks"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(1L) == ((3L, 1L, "e f g h x1 x2 x3 x4")),
      s"cross-doc block must strip from doc 1: ${out(1L)}")
    assert(out(2L) == ((3L, 1L, "p q r s y1 y2")),
      s"cross-doc block must strip from doc 2: ${out(2L)}")
    // distinct-document frequency: an in-doc repeat is NOT boilerplate
    assert(out(3L) == ((3L, 0L, "m n o t m n o t z1 z2 z3")),
      s"in-doc-only repeat must survive: ${out(3L)}")
  }

  test("chunkStride windows overlap by window-stride and keep the tail") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "s1 s2 s3") // shorter than one window
    ).toDF("id", "text")
    val out = ops.TextAnalysis.chunkStride(docs, "id", "text",
        window = 4, stride = 2)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Int]("chunk_id")) ->
        (r.getAs[Int]("n_tokens"), r.getAs[String]("chunk_text"))).toMap
    assert(out == Map(
      (1L, 0) -> ((4, "t1 t2 t3 t4")), (1L, 1) -> ((4, "t3 t4 t5 t6")),
      (1L, 2) -> ((4, "t5 t6 t7 t8")), (1L, 3) -> ((4, "t7 t8 t9 t10")),
      (2L, 0) -> ((3, "s1 s2 s3"))), s"unexpected chunking: $out")
    val e = intercept[IllegalArgumentException](
      ops.TextAnalysis.chunkStride(docs, "id", "text", window = 4, stride = 5))
    assert(e.getMessage.contains("stride"))
  }

  test("prewarmCodebook fills the KMeans memo from cold (Bench's " +
      "ann_codebook_fit meter)") {
    SessionMemo.clear(spark, SessionMemo.FittedModel)
    val k = ops.Similarity.prewarmCodebook(spark, sf)
    assert(k > 0 && k <= 16, s"expected 1..16 centroids, got $k")
    // the memo is now warm: a second call must not refit (same value,
    // and the memoized path returns without touching executor storage)
    assert(ops.Similarity.prewarmCodebook(spark, sf) == k)
    SessionMemo.clear(spark, SessionMemo.FittedModel)
  }

  test("itemSims fails loudly on a packed pair key outside [0, 2^31)") {
    def sims(key: Long) = ops.Graph.itemSims(
      Seq((1L, 10L), (1L, key), (2L, 10L), (2L, key)).toDF("c", "sk")).collect()
    assert(sims(Int.MaxValue.toLong).length == 2, "the largest packable key is fine")
    for (bad <- Seq(1L << 31, -1L)) {
      val err = intercept[Exception](sims(bad))
      val messages = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toList
      assert(messages.exists(_.contains("packed pair key outside [0, 2^31)")),
        s"key $bad: $messages")
    }
  }
}
