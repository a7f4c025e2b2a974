package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.datapipe.{Dedup, Mix, Pack, Similarity, Sketch, TextQuality, Multimodal}
import graft.fixtures.Fixtures
import graft.io.{Snapshots, TableFormat}
import graft.kg.{Linker, Canonicalize, Triples}
import graft.operators.BloomJoin

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries fall in three groups:
  *  - q_*   : relational operator coverage (SURVEY §2 A/B/C/E/H) over the
  *            driver's TPC-H-ish tables, each with a DuckDB oracle;
  *  - d_*   : training-data pipeline ops (dedup, similarity, text analysis)
  *            over the documents/embeddings tables — DuckDB oracles where the
  *            semantics are SQL-expressible, rows-only otherwise;
  *  - nemo_*: the KG-construction pipeline itself over the deterministic
  *            fixture corpus (no DuckDB table exists for these — rows-only;
  *            their correctness gate is `sbt -batch test`, SURVEY §5).
  *
  * NOTE on oracle determinism: aggregates over double columns are integerized
  * per row (ROUND(x*100) → BIGINT) before summing, ratios are emitted as basis
  * points via integer division, and top-k outputs rank (not score), so the
  * DuckDB hash-compare never sees engine-specific floating-point dust.
  */
object SparkEntry {

  /** Target mixture weights for d_mix_plan/d_mix_apply (the oracle SQL is
    * generated from this same Map — no hand-synced duplicate). */
  private val mixWeights = Map(
    "en" -> 4000L, "zh" -> 2000L, "es" -> 2000L, "de" -> 1000L, "fr" -> 1000L)

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Fixture pipeline state, built once per JVM. */
  lazy val fixtureModels: Pipeline.Models = Pipeline.fixtureModels()

  private def fixtureDocsDf(spark: SparkSession, n: Int): org.apache.spark.sql.Dataset[graft.schema.InputDoc] =
    Fixtures.inputDocsDs(spark, n, spark.sparkContext.defaultParallelism)

  private def fixtureDict(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(Fixtures.entityDictionary()).toDF()
  }

  // Session artifacts: each is built once per (session, key) by its own
  // SessionMemo, keyed by the sf dir where the build reads one.

  /** The annotated fixture corpus per (n, usePruning): the nemo_* queries are
    * different PROJECTIONS of the same annotated corpus (scenario label
    * layers all live on one Doc row), so annotating once and extracting many
    * times is the engine's real design — exactly what Pipeline.runAll's
    * docs_labeled stage checkpoint does at scale. */
  private val annotatedDocs =
    new SessionMemo[(Int, Boolean), org.apache.spark.sql.Dataset[graft.schema.Doc]]({
      case (s, (n, usePruning)) =>
        val models = s.sparkContext.broadcast(fixtureModels)
        Pipeline.annotate(s, fixtureDocsDf(s, n), models, usePruning).persist()
    })

  /** Trained BPE merges — d_bpe_train and d_bpe_segment share one training
    * run (the table is 8 rows; training is vocab-sized). */
  private val bpeMergesFor = new SessionMemo[String, Seq[(String, String)]]((s, dir) =>
    graft.datapipe.TextQuality
      .bpeTrain(t(s, dir, "documents"), "text", nMerges = 8)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq)

  private def annotatedMentions(spark: SparkSession, n: Int, scenario: String,
                                usePruning: Boolean = true): DataFrame =
    Pipeline.extractMentions(annotatedDocs(spark, (n, usePruning)), scenario)

  /** The annotate → link → canonicalize chain over the fixture corpus: the
    * linked morph mentions, each carrying its entity's canonical id. Not
    * memoized, so nemo_triples runs (and times) the whole chain. */
  private def canonicalLinkedMentions(s: SparkSession): DataFrame =
    Linker.link(annotatedMentions(s, 300, "morph"), fixtureDict(s))
      .join(broadcast(fixtureEntities(s)), Seq("entity_id"), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col("entity_id")))

  /** The materialized fixture triple set the KG READ-path queries (BGP /
    * OPTIONAL / property path) match against — the same chain as
    * `nemo_triples`, checkpointed once (same design as [[fixtureEntities]]):
    * ten read-path queries scan one stored set, the session-scale analogue
    * of querying the written triple store rather than re-running the
    * pipeline per query. */
  private val fixtureTriples = new SessionMemo[Unit, DataFrame]((s, _) =>
    Triples.fromLinkedMentions(canonicalLinkedMentions(s)).localCheckpoint())

  /** The pred-partitioned STORE written from [[fixtureTriples]] — a
    * write-time artifact like the IVF index: consumers measure the
    * partition-pruned read path, not a rebuild per query. */
  private val fixtureTripleStore = new SessionMemo[Unit, String]((s, _) => {
    val store = java.nio.file.Files.createTempDirectory("graft-kgstore")
      .toString + "/triples"
    val t = fixtureTriples(s) // checkpointed: the sizing count is a cache scan
    TableFormat.savePartitioned(t, store,
      partCol = "pred", keyCol = "subj", stage = "triples",
      buckets = TableFormat.adaptiveBuckets(t.count()))
    store
  })

  /** Canonicalized fixture dictionary — the same materialize-once design as
    * Pipeline.runAll's `entities` stage checkpoint and StreamPipeline's
    * stream-start canonicalization: the dictionary is static, so the CC
    * fixpoint runs once and every KG query broadcast-joins the result.
    * localCheckpoint: the returned frame must not re-run the CC loop's tail
    * join per consumer. */
  private val fixtureEntities = new SessionMemo[Unit, DataFrame]((s, _) =>
    Canonicalize.canonicalize(s, fixtureDict(s))
      .select(col("entity_id"), col("canonical_id")).localCheckpoint())

  /** IVF write-time artifact: deterministic k-means centroids + persisted
    * cell-assigned corpus (at real scale this is the cell-partitioned table
    * written at ingest; queries only probe it). */
  private val ivfIndex =
    new SessionMemo[String, (Array[(Int, Array[Float])], DataFrame)]((s, dir) => {
      val corpus = t(s, dir, "embeddings").filter(col("vec_id") >= 5)
      val cents = Similarity.centroids(corpus, "vec_id", "embedding", nCells = 16)
      val assigned = Similarity.assignCells(
        corpus.select(col("vec_id").as("id"), col("embedding").as("vec")), "vec", cents).persist()
      (cents, assigned)
    })

  /** PQ write-time artifact: per-subspace codebooks (bit-deterministic
    * fixed-point Lloyd per subspace) + the persisted encoded corpus — at
    * real scale the codes column is written at ingest next to the IVF cell,
    * and ADC queries never touch raw vectors. */
  private val pqIndex =
    new SessionMemo[String, (Array[(Int, Int, Array[Float])], DataFrame)]((s, dir) => {
      val corpus = t(s, dir, "embeddings").filter(col("vec_id") >= 5)
      val books = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8, kSub = 16)
      val encoded = Similarity.pqEncode(
        corpus.select(col("vec_id"), col("embedding")), "embedding", books)
        .select(col("vec_id"), col("codes")).persist()
      (books, encoded)
    })

  /** Canonical co-occurrence edge set over the fixture corpus — shared by
    * nemo_cooc (the edges themselves) and nemo_salience (PageRank over
    * them). Checkpointed once for the same reason as the annotated corpus:
    * the edge set is a stage artifact that two downstream consumers read —
    * exactly Pipeline.runAll's stage-checkpoint design at scale. */
  private val coocEdges = new SessionMemo[Unit, DataFrame]((s, _) =>
    kg.Cooccur.edges(canonicalLinkedMentions(s)).localCheckpoint())

  /** Part–part co-purchase edge set (parts sharing an order, bounded to
    * l_partkey < 10000 for oracle tractability) — the shared input of the
    * three graph-analytics queries (q_triangle_count, q_link_predict,
    * q_communities). Checkpointed once for the same stage-artifact reason as
    * coocEdges: at scale the co-purchase graph is a write-time table that
    * every downstream analytic reads, not a self-join each consumer re-runs. */
  private val ppEdges = new SessionMemo[String, DataFrame]((s, dir) => {
    val li = t(s, dir, "lineitem")
      .filter(col("l_partkey") < 10000)
      .select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
      .localCheckpoint()
  })

  /** Snapshot-table ingest artifact: the documents table committed as TWO
    * append snapshots (doc_id < 250, then the rest) into a temp dir — the
    * write-once table that d_snapshot_scan (time travel) and d_incr_scan
    * (incremental scan) read. At real scale this is the ingest log itself. */
  private val snapshotTable = new SessionMemo[String, String]((s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft-snaptbl").toString + "/documents"
    val docs = t(s, dir, "documents")
    Snapshots.commit(docs.filter(col("doc_id") < 250), tbl, "doc_id", buckets = 8, stage = "batch-1")
    Snapshots.commit(docs.filter(col("doc_id") >= 250), tbl, "doc_id", buckets = 8, stage = "batch-2")
    tbl
  })

  /** Stats-snapshot ingest artifact: the documents table committed as FOUR
    * append snapshots split by contiguous doc_id ranges, each dir carrying
    * min/max column stats (`statsCols`) — the key-ordered-ingest shape under
    * which Iceberg-style bounds pruning skips whole batch dirs. */
  private val statsSnapshotTable = new SessionMemo[String, String]((s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft-statstbl").toString + "/documents"
    val docs = t(s, dir, "documents")
    val cuts = Seq((0L, 125L, "b1"), (125L, 250L, "b2"), (250L, 375L, "b3"))
    cuts.foreach { case (lo, hi, st) =>
      Snapshots.commit(docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        tbl, "doc_id", buckets = 8, stage = st, statsCols = Seq("doc_id"))
    }
    Snapshots.commit(docs.filter(col("doc_id") >= 375L), tbl, "doc_id",
      buckets = 8, stage = "b4", statsCols = Seq("doc_id"))
    tbl
  })

  /** Clustered-rewrite artifact: the documents table ingested in TWO
    * doc_id-ordered batches, then sort-order-compacted on n_chars (fixed
    * splits 150/300/450 → 4 range slices) — the Iceberg rewrite-with-sort
    * shape that makes a SECOND column prunable after a primary-key-ordered
    * ingest. Its own table (never the shared statsSnapshotTable — the
    * overwrite would change d_stats_prune's pinned dir count). */
  private val clusterSnapshotTable = new SessionMemo[String, String]((s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft-clustbl").toString + "/documents"
    val docs = t(s, dir, "documents")
    Snapshots.commit(docs.filter(col("doc_id") < 250), tbl, "doc_id",
      buckets = 8, stage = "b1", statsCols = Seq("doc_id"))
    Snapshots.commit(docs.filter(col("doc_id") >= 250), tbl, "doc_id",
      buckets = 8, stage = "b2", statsCols = Seq("doc_id"))
    Snapshots.rewriteClustered(s, tbl, "doc_id", "n_chars",
      splits = Seq(150L, 300L, 450L), buckets = 8)
    tbl
  })

  /** TableFormat-written documents table (bucketed by doc_id, manifest
    * carrying the bucket layout) — the scan target for the BucketPrune
    * optimizer rule's q_bucket_prune. */
  private val tfDocumentsTable = new SessionMemo[String, String]((s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft-tfdocs").toString + "/documents"
    io.TableFormat.save(t(s, dir, "documents"), tbl, "doc_id", buckets = 16)
    tbl
  })

  /** Grid-rewrite artifact: documents re-clustered into the 2×4 cross
    * product of doc_id range slices (split 250) × n_chars range slices
    * (splits 150/300/450) — the dir-granularity analogue of Iceberg's
    * z-order rewrite, giving every cell tight bounds on BOTH axes. */
  private val gridSnapshotTable = new SessionMemo[String, String]((s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft-gridtbl").toString + "/documents"
    val docs = t(s, dir, "documents")
    Snapshots.commit(docs.filter(col("doc_id") < 250), tbl, "doc_id",
      buckets = 8, stage = "b1")
    Snapshots.commit(docs.filter(col("doc_id") >= 250), tbl, "doc_id",
      buckets = 8, stage = "b2")
    Snapshots.rewriteGrid(s, tbl, "doc_id",
      axes = Seq(("doc_id", Seq(250L)), ("n_chars", Seq(150L, 300L, 450L))),
      buckets = 8)
    tbl
  })

  /** Merge-upsert artifact: documents ingested as two doc_id-range batches
    * (with key-bounds stats), then a copy-on-write MERGE of a deterministic
    * delta — updates to docs 130–150 (lang/n_chars changed) plus 5 inserts
    * at doc_id+1 000 000. The delta's key range OVERLAPS both batch dirs'
    * bounds, but only batch 1 holds actual delta keys — so the semi-join
    * probe gate must rewrite exactly ONE dir and carry batch 2 by
    * reference. */
  private val mergeSnapshotTable = new SessionMemo[String, (String, Snapshots.Snapshot)]((s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft-mergetbl").toString + "/documents"
    val docs = t(s, dir, "documents")
    Snapshots.commit(docs.filter(col("doc_id") < 250), tbl, "doc_id",
      buckets = 8, stage = "b1", statsCols = Seq("doc_id"))
    Snapshots.commit(docs.filter(col("doc_id") >= 250), tbl, "doc_id",
      buckets = 8, stage = "b2", statsCols = Seq("doc_id"))
    val updates = docs.filter(col("doc_id").between(130, 150))
      .withColumn("lang", lit("xx"))
      .withColumn("n_chars", col("n_chars") + 100000L)
    val inserts = docs.filter(col("doc_id").between(300, 304))
      .withColumn("doc_id", col("doc_id") + 1000000L)
    (tbl, Snapshots.merge(updates.unionByName(inserts), tbl, "doc_id",
      buckets = 8, statsCols = Seq("doc_id")))
  })

  /** Merge-on-read delete artifact: documents in two range batches, an
    * equality-delete of docs 200–220 ∪ 300–305 (one small delete-key dir —
    * no data dir rewritten), then a RE-INSERT of doc 210 with lang='yy'.
    * The read must mask deleted rows from the old dirs while the newer
    * re-insert dir escapes the mask (sequence-number rule). */
  private val morSnapshotTable = new SessionMemo[String, (String, Snapshots.Snapshot)]((s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft-mortbl").toString + "/documents"
    val docs = t(s, dir, "documents")
    Snapshots.commit(docs.filter(col("doc_id") < 250), tbl, "doc_id",
      buckets = 8, stage = "b1", statsCols = Seq("doc_id"))
    Snapshots.commit(docs.filter(col("doc_id") >= 250), tbl, "doc_id",
      buckets = 8, stage = "b2", statsCols = Seq("doc_id"))
    Snapshots.deleteWhere(docs.filter(
      col("doc_id").between(200, 220) || col("doc_id").between(300, 305))
      .select(col("doc_id")), tbl)
    (tbl, Snapshots.commit(docs.filter(col("doc_id") === 210)
      .withColumn("lang", lit("yy")), tbl, "doc_id", buckets = 8,
      stage = "reinsert"))
  })

  /** The fixture corpus ingested as two delta batches through
    * Pipeline.runIncremental (snapshot-append stage tables): batch 1 with
    * `dict1`, batch 2 with `dict2` plus the optional dictionary change.
    * Returns the FULL triples table. */
  private def twoBatchTriples(s: SparkSession, dict1: DataFrame, dict2: DataFrame,
                              dictDelta: Option[DataFrame] = None,
                              dictRemoved: Option[DataFrame] = None): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory("graft-incr-kg").toString
    val docs = fixtureDocsDf(s, 300)
    Pipeline.runIncremental(s, docs.filter(col("doc_id") < "doc-000150"),
      dict1, work, batchId = "b1", buckets = 8)
    Pipeline.runIncremental(s, docs.filter(col("doc_id") >= "doc-000150"),
      dict2, work, batchId = "b2", buckets = 8,
      dictDelta = dictDelta, dictRemoved = dictRemoved)
  }

  /** Incremental-pipeline triples artifact: both batches with the same
    * dictionary — the resulting FULL triples table must hash-equal the same
    * gold-derived oracle as the one-shot nemo_triples run. */
  private val incrTriples = new SessionMemo[Unit, DataFrame]((s, _) => {
    val dict = fixtureDict(s)
    twoBatchTriples(s, dict, dict)
  })

  /** Dict-GROWTH incremental twin: batch 1 runs with the dictionary MINUS a
    * delta (every entity_id ≡ 1 mod 5 — which includes every second member of
    * the shared `group-N` alias pairs, so real component merges are at
    * stake); batch 2 arrives with the grown dict + dictDelta, triggering the
    * recovery fold (incremental CC + retro-link + affected-doc triple
    * recompute). The FULL table must hash-equal the same one-shot oracle as
    * nemo_triples — i.e. the fold is row-identical to a full rebuild. */
  private val dictGrowTriples = new SessionMemo[Unit, DataFrame]((s, _) => {
    val dict = fixtureDict(s)
    twoBatchTriples(s, dict.filter(col("entity_id") % 5 =!= 1), dict,
      dictDelta = Some(dict.filter(col("entity_id") % 5 === 1)))
  })

  /** Dict-SHRINK incremental twin: batch 1 runs with the FULL dictionary;
    * batch 2 arrives after every entity_id ≡ 0 mod 5 was deleted (which
    * removes the 40k-member of every shared `group-N` alias pair, so real
    * component SPLITS are at stake, and plenty of previously-linked surfaces,
    * so retro-linking must fire). The full table must hash-equal a one-shot
    * run with the SHRUNK dict (oracle: same triples SQL with the dict CTE
    * filtered to the surviving rows). */
  private val dictShrinkTriples = new SessionMemo[Unit, DataFrame]((s, _) => {
    val dict = fixtureDict(s)
    twoBatchTriples(s, dict, dict.filter(col("entity_id") % 5 =!= 0),
      dictRemoved = Some(dict.filter(col("entity_id") % 5 === 0)))
  })

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full mention-detection pipeline (tokenize → token-multi NER → lattice →
    * prune → MD → morph NER) over 200 fixture docs → morph-level mentions. */
  def entry(spark: SparkSession): DataFrame =
    annotatedMentions(spark, 200, "morph")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational operator coverage (q_*) ----
    "q_filter_project" -> ((s, dir) => {
      // B2/B3 filters + projection; predicate/column pushdown to parquet
      t(s, dir, "lineitem")
        .filter(col("l_quantity") < 5 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").cast("long").as("qty"))
    }),
    "q_agg_group" -> ((s, dir) => {
      // E-group aggregation with map-side partials; integerized sums
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_c"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_c"),
          count(lit(1)).as("n"))
    }),
    "q_join_broadcast" -> ((s, dir) => {
      // C11-shaped dimension join: small dims broadcast, zero shuffle on probe
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_cust"))
    }),
    "q_semi_join" -> ((s, dir) => {
      // C3 semi-join (EXISTS)
      val o = t(s, dir, "orders")
      val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
        .select(col("l_orderkey").as("o_orderkey"))
      o.join(big, Seq("o_orderkey"), "left_semi").select("o_orderkey", "o_orderstatus")
    }),
    "q_anti_join" -> ((s, dir) => {
      // set-difference analog (NOT EXISTS)
      val o = t(s, dir, "orders")
      val any = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o_orderkey"))
      o.join(any, Seq("o_orderkey"), "left_anti").select("o_orderkey", "o_custkey")
    }),
    "q_window_occ" -> ((s, dir) => {
      // E2 occurrence indexing — the one genuine window function
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("occ", row_number().over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("occ"))
    }),
    "q_ordered_groupconcat" -> ((s, dir) => {
      // C6/C7 ordered collect + '^' concat (the multi-label join shape);
      // explicit sort key inside the collected struct — ordering hazard §7.5#4
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(concat_ws("^",
          expr("transform(array_sort(collect_list(struct(o_orderkey, o_orderpriority))), x -> x.o_orderpriority)"))
          .as("prio_seq"))
    }),
    "q_set_intersect" -> ((s, dir) => {
      // E3 set semantics
      val c = t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey")).distinct()
      val sup = t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")).distinct()
      c.intersect(sup)
    }),
    "q_topk_per_group" -> ((s, dir) => {
      // top-k per group (rank only — no float in output)
      val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("rk"))
    }),
    "q_cc_components" -> ((s, dir) => {
      // C12 connected components over the nation–region bipartite graph
      val edges = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("src"),
        (col("n_regionkey").cast("long") + 1000L).as("dst"))
      Canonicalize.connectedComponents(s, edges)
    }),
    "q_pagerank" -> ((s, dir) => {
      // entity-salience fixed-point PageRank (the graph-analytics companion
      // to CC) over the symmetrized order–part bipartite graph from lineitem.
      // Exact integer arithmetic (scale 10⁶, truncating div) — the DuckDB
      // oracle replays 5 unrolled iterations bit-for-bit
      val li = t(s, dir, "lineitem")
      val e = li.select(col("l_orderkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 100000000L).as("dst"))
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      // allReceive: a symmetrized graph has no in-degree-0 vertex, so the
      // per-iteration teleport-only left join is skipped (identical result)
      kg.PageRank.run(s, sym, iterations = 5, allReceive = true)
        .withColumnRenamed("rank", "pr")
    }),
    "q_triangle_count" -> ((s, dir) => {
      // per-node triangle counts (local clustering) over the part–part
      // co-purchase graph: parts sharing an order are connected. Bounded to
      // l_partkey < 10000 to keep the oracle replay tractable; the operator
      // itself is degree-oriented (hub-proof) and unbounded. Edge set shared
      // via ppEdges (stage artifact, one build per session).
      kg.Triangles.perNodeCounts(ppEdges(s, dir))
    }),
    "q_kcore" -> ((s, dir) =>
      // 3-core of the co-purchase graph after 3 synchronous peel rounds —
      // density filtering that drops the sparse fringe before the heavier
      // graph analytics; fixed-iteration contract, oracle unrolls the same
      // 3 rounds as CTEs. Shares the ppEdges stage artifact.
      kg.KCore.run(s, ppEdges(s, dir), k = 3, rounds = 3)),
    "q_bfs_levels" -> ((s, dir) => {
      // multi-source BFS hop distance over the co-purchase graph (shares
      // the ppEdges stage artifact): neighborhood extraction around seed
      // entities — frontier iteration with early exit, capped at 6 hops;
      // the oracle replays it as a level-capped recursive CTE + MIN(level)
      val seeds = t(s, dir, "part")
        .filter(col("p_partkey") % 997 === 0 && col("p_partkey") < 10000)
        .select(col("p_partkey").cast("long").as("id"))
      kg.Bfs.levels(s, ppEdges(s, dir), seeds, maxRounds = 6)
    }),
    "q_link_predict" -> ((s, dir) => {
      // KG densification from second-order structure: non-edges of the
      // co-purchase graph scored by capped-pivot common-neighbor count +
      // full-degree integer Jaccard (pivot cap 100 bounds wedge fan-out
      // at cap·m — hub-mediated wedges carry no link signal)
      kg.LinkPredict.commonNeighbors(ppEdges(s, dir), minCommon = 8L, maxPivotDegree = 100L)
    }),
    "q_link_blocked" -> ((s, dir) => {
      // C11 blocking-key join: part p_brand tokens as "dictionary", supplier
      // names as "mentions" — shape check of normalize→block→join→best-pick.
      // Uses the REAL first-token block key (Linker.blockKeyCol), and the
      // oracle replays the same first-token semantics — brands are single
      // tokens after normalization, so the two keys coincide on this data,
      // but the oracle must replay the operator, not a lookalike equi-join
      val dict = t(s, dir, "part").select(col("p_brand")).distinct()
        .withColumn("block", Linker.blockKeyCol(col("p_brand")))
      val m = t(s, dir, "part").select(col("p_partkey"), col("p_brand").as("mention"))
        .withColumn("block", Linker.blockKeyCol(col("mention")))
      m.join(broadcast(dict), Seq("block")).select(col("p_partkey"), col("p_brand"))
    }),

    "q_bloom_join" -> ((s, dir) => {
      // bloom-pruned exact join: urgent orders' keys as a bloom pre-filter on
      // the lineitem scan BEFORE its shuffle, exact join after (false
      // positives removed) — the runtime-filter strategy for a dim whose
      // keys fit in a bit array but whose rows don't fit a broadcast
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      val items = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      BloomJoin.prunedJoin(items, "l_orderkey", urgent, "o_orderkey",
          expectedItems = urgent.count())
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_quantity") * 100).cast("long")).cast("long").as("sum_qty_c"))
    }),
    "d_snapshot_scan" -> ((s, dir) => {
      // Iceberg-style time travel over the snapshot log: per-snapshot
      // aggregates read the table AS OF each snapshot (metadata resolution —
      // the asOf-1 read touches only batch-1's data dir)
      val tbl = snapshotTable(s, dir)
      def agg(df: DataFrame, id: Long): DataFrame = df
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("sum_chars"))
        .withColumn("snap_id", lit(id))
      agg(Snapshots.load(s, tbl, asOf = Some(1L)), 1L)
        .unionByName(agg(Snapshots.load(s, tbl), 2L))
        .select(col("snap_id"), col("n_docs"), col("sum_chars"))
    }),
    "d_incr_scan" -> ((s, dir) =>
      // incremental (changes-between-snapshots) scan: exactly the rows batch
      // 2 appended, read from its data dir alone — the CDC feed the
      // incremental pipeline (Pipeline.runIncremental) consumes per batch
      Snapshots.changes(s, snapshotTable(s, dir), fromId = 1L)
        .select(col("doc_id"), col("lang"), col("n_chars"))),
    "d_snapshot_rewrite" -> ((s, dir) => {
      // compaction (rewrite_data_files): two append batches merged into ONE
      // data dir by an overwrite snapshot — its OWN table (never the shared
      // snapshotTable: d_incr_scan's incremental scan must keep an
      // append-only history). n_dirs comes from the ENGINE's snapshot log;
      // the oracle pins it to 1, so the hash check verifies the compaction
      // actually compacted AND preserved every row.
      val tbl = java.nio.file.Files.createTempDirectory("graft-snaprw").toString + "/documents"
      val docs = t(s, dir, "documents")
      Snapshots.commit(docs.filter(col("doc_id") < 100), tbl, "doc_id", buckets = 8, stage = "b1")
      Snapshots.commit(docs.filter(col("doc_id") >= 100), tbl, "doc_id", buckets = 8, stage = "b2")
      val snap = Snapshots.rewrite(s, tbl, "doc_id", buckets = 8)
      Snapshots.load(s, tbl)
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("sum_chars"))
        .withColumn("op", lit(snap.op))
        .withColumn("n_dirs", lit(snap.dirs.size.toLong))
        .select(col("op"), col("n_dirs"), col("n_docs"), col("sum_chars"))
    }),

    "d_stats_prune" -> ((s, dir) => {
      // column-stats data skipping (Iceberg manifest bounds): doc_id ∈
      // [130, 240] over a 4-batch key-range-ingested snapshot table must plan
      // a read of exactly ONE data dir — n_dirs_read comes from the ENGINE's
      // pruneDirs plan and the oracle pins it to 1, so the hash check
      // verifies the skipping actually skipped AND the survivors' exact
      // filter returned precisely the full-scan answer
      val tbl = statsSnapshotTable(s, dir)
      val kept = Snapshots.pruneDirs(tbl, "doc_id", 130L, 240L)._1
      Snapshots.loadPruned(s, tbl, "doc_id", 130L, 240L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("n_dirs_read", lit(kept.size.toLong))
    }),

    "d_cluster_prune" -> ((s, dir) => {
      // sort-order compaction (Iceberg rewrite with sort order): after a
      // doc_id-ordered ingest is re-clustered into n_chars range slices, a
      // RANGE PREDICATE ON THE SECOND COLUMN must plan a one-dir read —
      // n_chars ∈ [180, 280] ⊂ slice (150, 300]. The oracle pins
      // n_dirs_read=1, so the hash verifies both the re-clustering and the
      // exactness of the pruned answer
      val tbl = clusterSnapshotTable(s, dir)
      val kept = Snapshots.pruneDirs(tbl, "n_chars", 180L, 280L)._1
      Snapshots.loadPruned(s, tbl, "n_chars", 180L, 280L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("n_dirs_read", lit(kept.size.toLong))
    }),

    "d_grid_prune" -> ((s, dir) => {
      // multi-dimensional clustering (z-order analogue): after the 2×4 grid
      // rewrite, a BOX query over (doc_id, n_chars) must plan a one-cell
      // read — doc_id ∈ [50,200] picks axis-0 slice 0, n_chars ∈ [180,280]
      // picks axis-1 slice 1. The oracle pins n_dirs_read=1
      val tbl = gridSnapshotTable(s, dir)
      val box = Seq[(String, Any, Any)](
        ("doc_id", 50L, 200L), ("n_chars", 180L, 280L))
      val kept = Snapshots.pruneDirsMulti(tbl, box)._1
      Snapshots.loadPrunedMulti(s, tbl, box)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("n_dirs_read", lit(kept.size.toLong))
    }),

    "d_merge_upsert" -> ((s, dir) => {
      // copy-on-write MERGE INTO: the oracle replays the upsert relationally
      // (CASE WHEN for updates, UNION ALL for inserts) and pins n_dirs=3 /
      // n_rewritten=1 — proving the whole upsert landed AND that only the
      // one dir actually holding delta keys was rewritten (batch 2 carried
      // by reference despite its bounds overlapping the delta's key range)
      val (tbl, snap) = mergeSnapshotTable(s, dir)
      Snapshots.load(s, tbl)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("n_dirs", lit(snap.dirs.size.toLong))
        .withColumn("n_rewritten",
          lit(snap.dirs.count(_.contains("-m")).toLong))
    }),

    "q_bucket_prune" -> ((s, dir) =>
      // NO hand-written bucket predicate: the BucketPrune optimizer rule
      // (injected via GraftExtensions in the Verify/Bench sessions) reads
      // the manifest's bucket layout and conjoins part_bucket =
      // xxhash64(137) % 16, so the scan reads one bucket dir of 16 —
      // plan-level evidence in PipelineSpec; the oracle pins the answer
      io.TableFormat.load(s, tfDocumentsTable(s, dir))
        .filter(col("doc_id") === 137L)
        .select(col("doc_id"), col("lang"), col("n_chars"))),
    "d_mor_delete" -> ((s, dir) => {
      // merge-on-read equality delete: deleted keys masked from OLD dirs at
      // read time (no data rewritten — n_dels pins the single delete-key
      // dir), while the LATER re-insert of doc 210 escapes the mask
      // (sequence-number rule) and surfaces with its new lang
      val (tbl, snap) = morSnapshotTable(s, dir)
      Snapshots.load(s, tbl)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("n_dels", lit(snap.dels.size.toLong))
    }),

    "q_event_window" -> ((s, dir) => {
      // tumbling time-window aggregation over the events stream table — the
      // batch shape of the Structured Streaming windowed agg (values
      // integerized per row for cross-engine hash stability)
      t(s, dir, "events")
        .groupBy(col("event_type"), window(col("ts"), "1 hour").getField("start").as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).cast("long").as("sum_value_c"))
    }),
    "q_attrib_join" -> ((s, dir) =>
      // event attribution: clicks ⋈ same-user views within 12 h before the
      // click — the BATCH side of the watermarked stream-stream interval
      // join (StreamJoin.attributeViews serves both; StreamingSpec asserts
      // STREAM == BATCH on micro-batched input). Equi-join on user_id with
      // a residual time-range predicate — never a theta join
      graft.streaming.StreamJoin.attributeViews(t(s, dir, "events"),
        lagMaxS = 12 * 3600L)),
    "q_asof_forward" -> ((s, dir) => {
      // forward as-of: each purchase matched to the user's NEXT signup at or
      // after it (same union+window technique, reversed order)
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("s_ts"))
      graft.operators.AsOfJoin.asofForward(
        purchases, signups, Seq("user_id"), "ts", "s_ts", Seq("signup_id"))
        .select(col("event_id"), col("asof_signup_id").as("signup_id"))
    }),
    "q_asof_join" -> ((s, dir) => {
      // as-of join: each purchase matched to the user's most recent prior
      // signup (union+window technique — one shuffle, no range explosion)
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("s_ts"))
      graft.operators.AsOfJoin.asofBackward(
        purchases, signups, Seq("user_id"), "ts", "s_ts", Seq("signup_id"))
        .select(col("event_id"), col("asof_signup_id").as("signup_id"))
    }),
    "q_sessionize" -> ((s, dir) => {
      // gap-and-island sessionization (batch twin of the streaming
      // flatMapGroupsWithState sessionizer): 30-minute inactivity gap
      graft.operators.Sessionize.sessions(t(s, dir, "events"), "user_id", "ts", gapSeconds = 1800)
    }),
    "q_range_join" -> ((s, dir) => {
      // point-in-interval range join: each purchase attributed to EVERY
      // signup of the same user whose 7-day window contains it (bucketized
      // equi-join — no BroadcastNestedLoopJoin, no per-key cartesian)
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts").cast("timestamp")).as("t"))
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("lo"),
          (unix_micros(col("ts").cast("timestamp")) + lit(604800000000L)).as("hi"))
      graft.operators.RangeJoin.pointInInterval(
        purchases, windows, Seq("user_id"), "t", "lo", "hi", Seq("signup_id"))
        .select(col("event_id"), col("range_signup_id").as("signup_id"))
    }),
    "q_interval_overlap" -> ((s, dir) => {
      // interval-overlap join: click hours [ts, ts+1h] × signup weeks
      // [ts, ts+7d] per user — both sides bucketized, pair emitted exactly
      // once (first-shared-bucket arithmetic, no distinct shuffle)
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("lo"),
          (unix_micros(col("ts").cast("timestamp")) + lit(3600000000L)).as("hi"))
      val weeks = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("slo"),
          (unix_micros(col("ts").cast("timestamp")) + lit(604800000000L)).as("shi"))
      graft.operators.RangeJoin.intervalOverlap(
        clicks, weeks, Seq("user_id"), "lo", "hi", "slo", "shi", Seq("signup_id"))
        .select(col("event_id"), col("range_signup_id").as("signup_id"))
    }),
    "q_json_extract" -> ((s, dir) => {
      // JSON scalar extraction from the props column
      t(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    }),
    "q_rollup" -> ((s, dir) => {
      // rollup with sentinel fill so both engines hash identically
      t(s, dir, "events")
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"), col("n"))
    }),

    // ---- training-data pipeline ops (d_*) ----
    "d_token_count" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextQuality.tokenCount(col("text")).as("n_tokens"))
    }),
    "d_lm_perplexity" -> ((s, dir) => {
      // CCNet-style bigram-LM quality score: model trained on a deterministic
      // 80% hash slice, every doc scored by integer µ-log NLL (add-one
      // smoothing); filter high ppl_micro to drop OOD/gibberish docs
      TextQuality.lmPerplexity(t(s, dir, "documents"))
    }),
    "d_dsir_weights" -> ((s, dir) => {
      // DSIR hashed importance weights: target = English docs, raw = whole
      // pool; 1024 hash buckets (model size fixed regardless of corpus),
      // integer µ-log weights — high logw_micro docs look target-like
      TextQuality.dsirWeights(t(s, dir, "documents"), col("lang") === "en")
    }),
    "d_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextQuality.fingerprint(col("text")).as("fp"))
    }),
    "d_fingerprint_poly" -> ((s, dir) => {
      // native codegen'd PolyHash64 expression (rows-only: splitmix finalizer
      // is not expressible in DuckDB SQL; parity vs the UDF is in scalatest)
      t(s, dir, "documents").select(col("doc_id"),
        TextQuality.fastFingerprint(col("text")).as("fp64"))
    }),
    "d_exact_dup_groups" -> ((s, dir) => {
      // exact dedup on a 30-char prefix fingerprint (full texts are unique in
      // the synthetic table; prefix groups exercise the same plan shape)
      t(s, dir, "documents")
        .select(col("doc_id"), md5(substring(col("text"), 1, 30)).as("fp"))
        .groupBy("fp")
        .agg(count(lit(1)).as("dup_count"), min("doc_id").as("keep_id"))
        .filter(col("dup_count") > 1)
    }),
    "d_chunk_overlap" -> ((s, dir) => {
      // RAG/long-context overlapping windows (size 128, stride 96): boundary
      // manifest per doc; narrow per-row explode, no shuffle
      Pack.overlapChunks(t(s, dir, "documents"), "doc_id", "text", size = 128, stride = 96)
    }),
    "d_winnow" -> ((s, dir) => {
      // MOSS winnowing fingerprints (k=3-gram hashes, w=4 windows): the
      // partial-overlap dedup index — ~2/(w+1) of grams kept with the
      // shared-run guarantee; per-doc sliding window, never global
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text", k = 3, w = 4)
    }),
    "d_winnow_pairs" -> ((s, dir) => {
      // the MOSS workflow the winnow index exists for: join the selections
      // across docs on fp_hash (bucket-capped like every LSH path), count
      // shared fingerprints per pair — each one certifies an identical
      // 3-gram in both docs, ≥ minShared demanded
      Dedup.winnowOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 3, w = 4, maxBucket = 64, minShared = 2)
    }),
    "d_incr_dedup" -> ((s, dir) => {
      // incremental ingest dedup: the batch (doc_id >= 250) is admitted
      // against the fingerprint STORE of already-ingested history
      // (doc_id < 250, hashes only); same prefix fingerprint as
      // d_exact_dup_groups so the overlap is real. Admitted (doc_id, fp)
      // rows are the store delta for the next epoch.
      val docs = t(s, dir, "documents")
      val fpx = md5(substring(col("text"), 1, 30))
      val history = docs.filter(col("doc_id") < 250).select(fpx.as("fp"))
      val batch = docs.filter(col("doc_id") >= 250).select(col("doc_id"), col("text"))
      Dedup.incrementalDedup(history, batch, "doc_id", fpx)
        .select(col("doc_id"), col("fp"))
    }),
    "d_exact_dedup_keep" -> ((s, dir) => {
      // keep-one-representative dedup (window form; min doc_id wins) on the
      // same prefix fingerprint as d_exact_dup_groups
      Dedup.exactDedupBy(t(s, dir, "documents"), "doc_id", md5(substring(col("text"), 1, 30)))
        .select(col("doc_id"))
    }),
    "d_quality_basis" -> ((s, dir) => {
      // quality ratios as basis points via integer division (engine-stable)
      val toks = split(trim(lower(col("text"))), "\\s+")
      val sw = array(TextQuality.defaultStopwords.map(lit): _*)
      t(s, dir, "documents").select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        (size(filter(toks, x => array_contains(sw, x))).cast("long") * 10000L / size(toks).cast("long")).cast("long").as("stopword_bp"),
        (size(array_distinct(toks)).cast("long") * 10000L / size(toks).cast("long")).cast("long").as("distinct_bp"))
    }),
    "d_bpe_token_count" -> ((s, dir) => {
      // BPE-ish pre-tokenizer counting (letter runs / digit runs / punct)
      t(s, dir, "documents").select(col("doc_id"),
        TextQuality.bpeTokenCount("text").as("n_bpe"))
    }),
    "d_cosine_pairs_exact" -> ((s, dir) => {
      // exact embedding near-dup pairs (cross join baseline; ids only;
      // bounded to vec_id < 1000 — the n² baseline is for validation, the
      // scale path is the LSH variant)
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id"), col("embedding"))
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
      a.join(b, col("id_a") < col("id_b"))
        .filter(Similarity.cosineCol("vec_a", "vec_b") >= 0.4)
        .select("id_a", "id_b")
    }),
    "d_lang_id" -> ((s, dir) => {
      // heuristic n-gram langId (not SQL-expressible → rows-only check)
      TextQuality.withLangId(t(s, dir, "documents"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
    }),
    "d_ann_topk" -> ((s, dir) => {
      // brute-force cosine top-3 for query vectors vec_id < 5 (rank output)
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(e.filter(col("vec_id") >= 5), "vec_id", "embedding", q, "qid", "qvec", 3)
        .select(col("qid"), col("id"), col("rk"))
    }),
    "d_ann_sq8" -> ((s, dir) => {
      // int8 scalar-quantized top-3: codes+scale are the write-time artifact
      // (4x smaller than float32); ranking is an integer dot product
      // de-quantized by two per-row scales. Oracle re-derives the codes from
      // the raw floats (round parity) and replays the integer ranking.
      val e = t(s, dir, "embeddings")
      val enc = Similarity.sq8Encode(e.filter(col("vec_id") >= 5), "embedding")
        .select(col("vec_id"), col("sq8_scale"), col("sq8_codes"))
      val q = e.filter(col("vec_id") < 5)
      Similarity.sq8TopKEncoded(enc, "vec_id", q, "vec_id", "embedding", k = 3)
    }),
    "d_ann_ivf" -> ((s, dir) => {
      // IVF approximate variant — the scale path: the k-means index (centroids
      // + cell assignment) is the WRITE-TIME artifact, built once per session
      // and reused by every query; the measured cost is the probe path. The
      // oracle replays assignment/probe/rank from the identical
      // (bit-deterministic) centroids dumped as aux parquet.
      val (cents, assigned) = ivfIndex(s, dir)
      val q = t(s, dir, "embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopKAssigned(assigned, "id", "vec", q, "qid", "qvec", 3, cents, nProbe = 4)
        .select(col("qid"), col("id"), col("rk"))
    }),
    "d_ann_pq" -> ((s, dir) => {
      // product-quantization ANN: codebooks + encoded corpus are the
      // write-time artifact (like the IVF index); queries rank by asymmetric
      // distance — Σ per-subspace floor(‖q_s − book[code_s]‖²·2^24), an
      // exact long, so the oracle replays encode AND ranking bit-stably
      // from the aux-dumped codebooks
      val (books, encoded) = pqIndex(s, dir)
      val q = t(s, dir, "embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.pqTopKEncoded(encoded, "vec_id", q, "qid", "qvec", 3, books)
    }),
    "d_ann_ivfpq" -> ((s, dir) => {
      // composed IVF-PQ (the IVFADC read path): the corpus artifact carries
      // BOTH write-time columns — IVF cell and PQ codes — so the query
      // probes its 4 nearest cells and joins on cell FIRST (the pruning
      // gate is in the plan, before any ADC work), then ranks survivors by
      // the same exact-integer ADC as d_ann_pq. d_ann_pq's full-corpus scan
      // is the baseline this is the scale path for. At ingest cell+codes
      // are one written table; here the two session artifacts join once
      // (fixture-sized).
      val (cents, assigned) = ivfIndex(s, dir)
      val (books, encoded) = pqIndex(s, dir)
      val encCells = encoded
        .join(assigned.select(col("id").as("vec_id"), col("cell")), "vec_id")
      val q = t(s, dir, "embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqTopKEncoded(encCells, "vec_id", q, "qid", "qvec", 3,
        cents, nProbe = 4, books)
    }),
    "d_ann_recall" -> ((s, dir) => {
      // recall@k of the IVF index vs the exact baseline — the index-quality
      // gauge run whenever the write-time ANN artifacts are rebuilt (nProbe/
      // nCells are tuned against this). Integer per-mille, per query.
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(
        e.filter(col("vec_id") >= 5), "vec_id", "embedding", q, "qid", "qvec", 3)
      val (cents, assigned) = ivfIndex(s, dir)
      val approx = Similarity.ivfTopKAssigned(
        assigned, "id", "vec", q, "qid", "qvec", 3, cents, nProbe = 4)
      Similarity.recallAtK(approx.select("qid", "id"), exact.select("qid", "id"))
    }),
    "d_minhash_neardup" -> ((s, dir) => {
      // MinHash+LSH near-dup pairs at Jaccard ≥ 0.25; the DuckDB oracle
      // replays the identical md5-48bit shingles + (a·x+b) mod 2^64
      // permutations with UNSIGNED min (coefs dumped as aux parquet, replayed
      // via 32-bit-split INT128 multiplication) and the same banding
      Dedup.minhashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 2, bands = 16, rowsPerBand = 2, threshold = 0.25)
    }),
    "d_simhash_neardup" -> ((s, dir) => {
      Dedup.simhashNearDuplicates(t(s, dir, "documents"), "doc_id", "text", maxDist = 10)
    }),
    "d_ngram_jaccard" -> ((s, dir) => {
      // exact 2-gram Jaccard pairs ≥ 0.25 among first 500 docs (bounded n² —
      // validation baseline); pure-Catalyst string shingles, integer bp output
      Dedup.ngramJaccardPairsBp(
        t(s, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text",
        shingleN = 2, thresholdBp = 2500)
    }),
    "d_cosine_neardup" -> ((s, dir) => {
      // embedding near-dup via hyperplane LSH; planes dumped as aux parquet so
      // the oracle recomputes identical signatures; ids-only output (the
      // verify filter is on round(cosine,4) in both engines)
      Similarity.cosineNearDuplicates(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, nPlanes = 32, bands = 8, maxBucket = 512)
        .select(col("id_a"), col("id_b"))
    }),
    "d_semdedup" -> ((s, dir) => {
      // SemDeDup cluster-then-prune: reuses the session's IVF write-time
      // artifact (same centroids the d_ann_ivf oracle replays from aux) —
      // only within-cell pairs are scored, so the pass has no corpus×corpus
      // stage; smallest-id domination keeps one row per near-dup relation
      val (_, assigned) = ivfIndex(s, dir)
      Similarity.semanticDedup(assigned, "id", "vec", threshold = 0.3, maxCell = 4096)
        .select(col("id").as("vec_id"), col("cell"), col("kept"))
    }),

    "d_rep_topgram" -> ((s, dir) => {
      // Gopher-style repetition signals: top-2gram + duplicate-2gram
      // fractions in basis points; shingles hashed to longs pre-shuffle
      TextQuality.repetitionSignals(t(s, dir, "documents"), "doc_id", "text", n = 2)
    }),
    "d_c4_filter" -> ((s, dir) => {
      // composite C4/Gopher keep-or-reject verdict with first-fail reason;
      // all thresholds integer inequalities (engine-stable)
      TextQuality.c4Filter(t(s, dir, "documents"), "doc_id", "text")
    }),
    "d_hash_sample" -> ((s, dir) => {
      // deterministic stratified sample: en docs at 5%, other langs at 20%
      // (training-mixture rebalance); hash of the key, not rand() — stable
      // under retries and repartitioning
      TextQuality.stratifiedHashSample(t(s, dir, "documents"), "doc_id",
          when(col("lang") === "en", lit(500L)).otherwise(lit(2000L)))
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    "d_exact_k_sample" -> ((s, dir) =>
      // deterministic EXACT-k per-stratum sample (bottom-k hashing — the
      // KMV primitive used for row selection): exactly 20 docs per lang,
      // stable under corpus growth; plan is partial+final WindowGroupLimit,
      // never a full per-stratum sort
      TextQuality.topKByHash(t(s, dir, "documents"), "doc_id",
          Seq("lang"), k = 20)
        .select(col("lang"), col("doc_id"), col("sample_rank"))),
    "d_neardup_clusters" -> ((s, dir) => {
      // fuzzy-dedup clusters: simhash LSH pairs → connected components →
      // per-cluster representative (the keep-one step of near-dup REMOVAL).
      // maxDist=3 (the 4×12-bit banding recall-guarantee zone — pairs are
      // EXACT, not approximate, within it) keeps the edge set the sparse
      // real-near-dup graph, not the dist≤10 hairball (80k edges → 1.4k
      // at sf0.1, CC converges in a few iterations)
      Dedup.nearDupClusters(s, t(s, dir, "documents"), "doc_id", "text",
        maxDist = 3)
    }),
    "d_vocab_topk" -> ((s, dir) => {
      // corpus top-20 vocabulary (map-side partial agg; rank not raw order)
      TextQuality.vocabTopK(t(s, dir, "documents"), "text", k = 20)
    }),
    "d_bpe_merge_pairs" -> ((s, dir) => {
      // one BPE merge-selection iteration: top-20 adjacent char pairs
      // weighted by word frequency — pair explosion runs over the
      // vocab-sized aggregate, never the raw token stream
      TextQuality.bpeMergePairs(t(s, dir, "documents"), "text", k = 20)
    }),
    "d_bpe_train" -> ((s, dir) =>
      // FULL BPE trainer: 8 iterated merge rounds over the vocabulary
      // aggregate (corpus touched once; per-round shuffles are vocab-sized,
      // argmax is a 1-row driver fetch). Oracle replays all 8 rounds as
      // unrolled CTEs with sentinel-wrapped string states.
      TextQuality.bpeTrain(t(s, dir, "documents"), "text", nMerges = 8)),
    "d_bpe_segment" -> ((s, dir) => {
      // BPE ENCODE with the 8 trained merges: per-doc token count after
      // segmentation — the merge list is unrolled into nested Catalyst HOF
      // folds (no UDF), one narrow pass over the corpus
      val merges = bpeMergesFor(s, dir)
      TextQuality.bpeSegmentCount(t(s, dir, "documents"), "text", merges)
    }),
    "d_invidx_topk" -> ((s, dir) => {
      // inverted-index retrieval: posting lists + exact-integer tf·idf
      // top-10 per probe query (the lexical twin of d_ann_topk)
      import graft.datapipe.InvertedIndex
      import s.implicits._
      val docs = t(s, dir, "documents")
      val post = InvertedIndex.postings(docs, "doc_id", "text")
      val qs = InvertedIndex.fixtureQueries.toDF("query_id", "term")
      InvertedIndex.searchTopK(post, qs, nDocs = docs.count(), k = 10)
    }),
    "d_bm25_topk" -> ((s, dir) => {
      // Okapi BM25 top-10 (k1=1.2, b=0.75, Lucene idf) — the production
      // retrieval scorer; raw tf·idf d_invidx_topk is the baseline. Scores
      // are exact integers via the µ-log table + cleared-fraction length
      // norm, so DuckDB replays them bit-for-bit
      import graft.datapipe.InvertedIndex
      import s.implicits._
      val docs = t(s, dir, "documents")
      // one postings materialization feeds the dl stats AND the matched
      // stream (write-time-artifact economics, stated in the scaladoc)
      val post = InvertedIndex.postings(docs, "doc_id", "text").localCheckpoint(false)
      val qs = InvertedIndex.fixtureQueries.toDF("query_id", "term")
      InvertedIndex.searchBM25(post, qs, nDocs = docs.count(), k = 10)
    }),
    "d_hybrid_rrf" -> ((s, dir) => {
      // reciprocal-rank fusion of two heterogeneous rankers over the same
      // probe queries (BM25 + raw tf·idf here; BM25 + dense ANN in a RAG
      // stack): only ranks cross systems, so incomparable score scales fuse
      // without normalization; integer 10⁶ div (60 + rk) contributions
      import graft.datapipe.InvertedIndex
      import s.implicits._
      val docs = t(s, dir, "documents")
      // both rankers read ONE materialized posting table (the write-time
      // index artifact) — the fusion adds no corpus pass of its own
      val post = InvertedIndex.postings(docs, "doc_id", "text").localCheckpoint(false)
      val qs = InvertedIndex.fixtureQueries.toDF("query_id", "term")
      val n = docs.count()
      InvertedIndex.rrfFuse(Seq(
        InvertedIndex.searchBM25(post, qs, nDocs = n, k = 10),
        InvertedIndex.searchTopK(post, qs, nDocs = n, k = 10)))
    }),
    "d_split_leakage" -> ((s, dir) => {
      // leakage-safe train/val/test split: hashed on SOURCE (the domain
      // proxy), never the doc — all pages of a site share one split, so
      // near-dups can't straddle train/eval; 20%/10% of GROUPS to val/test
      TextQuality.leakageSafeSplit(t(s, dir, "documents"), "source",
          valBp = 2000, testBp = 1000)
        .select("doc_id", "source", "split")
    }),
    "d_ppl_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail tiers: per-language perplexity tertiles over
      // the d_lm_perplexity score (rank-arithmetic thresholds, integer-exact)
      TextQuality.pplBuckets(t(s, dir, "documents"))
    }),
    "d_ppl_buckets_sketch" -> ((s, dir) => {
      // the 10^12-rows/stratum twin: thresholds from the mergeable
      // quantile-histogram sketch ((lang, bin, cnt) rows only — no
      // per-stratum sort of doc rows), same ×3 rank arithmetic on bins;
      // may differ from the exact twin only inside the threshold bins
      // (agreement asserted in DatapipeSpec)
      TextQuality.pplBucketsSketch(t(s, dir, "documents"))
    }),
    "d_domain_stats" -> ((s, dir) => {
      // per-domain triage table (C4/RefinedWeb): doc/token mass, short-doc
      // and CORPUS-WIDE exact-dup fractions per source — the blocklist input;
      // prefix fingerprint (the d_exact_dup_groups convention) so the
      // unique-text fixture exercises the dup math
      TextQuality.domainStats(t(s, dir, "documents"), "source",
        md5(substring(col("text"), 1, 30)))
    }),
    "d_len_percentiles" -> ((s, dir) => {
      // exact per-language token-count percentiles via rank arithmetic
      // (percentile_disc semantics — engine-stable integers, no
      // interpolation-formula drift)
      TextQuality.tokenLenPercentiles(t(s, dir, "documents"), "text", "lang")
    }),
    "d_crossdoc_ngrams" -> ((s, dir) => {
      // exact-substring-dedup signal (Lee et al. 2021): per-doc fraction of
      // distinct 5-grams occurring in >= 2 documents corpus-wide
      Dedup.crossDocDupNgrams(t(s, dir, "documents"), "doc_id", "text",
        n = 5, minDocs = 2)
    }),
    "d_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: candidate docs' 3-gram overlap with a
      // held-out reference slice (every 20th doc plays the eval set)
      val docs = t(s, dir, "documents")
      Dedup.contaminationCheck(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 3, flagBp = 1000)
    }),
    "d_dup_span_removal" -> ((s, dir) => {
      // exact-substring removal: cut tokens covered by any 5-gram occurring
      // in >= 2 docs (the removal half of Lee et al. 2021)
      Dedup.removeDuplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 5, minDocs = 2)
    }),
    "d_pii_redact" -> ((s, dir) => {
      // PII counts + redacted-text fingerprint. The synthetic corpus carries
      // no organic PII, so the query plants it DETERMINISTICALLY from doc_id
      // (every 7th doc gets an email + IPv4 + 10-digit account id) — both
      // engines derive the identical augmented text, so nonzero counts and
      // the redacted md5 are hard-verified
      val aug = t(s, dir, "documents").withColumn("text2",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" reach user"), col("doc_id").cast("string"),
              lit("@mail.example.org or 192.168."), (col("doc_id") % 200).cast("string"),
              lit(".3 acct 90000"), (lit(10000L) + col("doc_id") % 90000).cast("string")))
            .otherwise(lit(""))))
      TextQuality.redactPii(aug, "doc_id", "text2")
    }),
    "d_curation_pipeline" -> ((s, dir) => {
      // the composed curation flow a real training-data run executes:
      // C4-style quality filter -> exact dedup keep-one -> deterministic
      // 50% hash sample. Each stage is an already-oracled operator; this
      // query verifies their COMPOSITION end-to-end (the filter feeds the
      // dedup window which feeds the sample predicate in one plan)
      val docs = t(s, dir, "documents")
      val kept = TextQuality.c4Filter(docs, "doc_id", "text")
        .filter(col("keep") === 1).select("doc_id")
      val deduped = Dedup.exactDedupBy(docs.join(kept, "doc_id"), "doc_id",
        md5(substring(col("text"), 1, 30)))
      TextQuality.stratifiedHashSample(deduped, "doc_id", lit(5000L), salt = "curate")
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    "d_pack_chunks" -> ((s, dir) => {
      // sequence packing (concat-and-chunk): per-doc manifest of token
      // offsets and spanned 2048-token training chunks. Two-level prefix sum
      // (bucket totals → broadcast bases → intra-bucket window) — no global
      // single-partition window; the oracle replays it with one
      Pack.concatChunks(s, t(s, dir, "documents"), "doc_id", "text",
        capacity = 2048L, bucketWidth = 64L)
    }),
    "d_mix_plan" -> ((s, dir) => {
      // training-mixture planning: per-language sampling rates that hit a
      // 20k-token budget at DoReMi-style target weights; exact integer plan
      Mix.plan(t(s, dir, "documents"), "lang", "text", mixWeights, 20000L)
    }),
    "d_mix_apply" -> ((s, dir) => {
      // apply the plan: broadcast-join rates by stratum + deterministic
      // hash-bucket filter (no shuffle on the corpus side)
      val docs = t(s, dir, "documents")
      Mix.apply(docs, "doc_id", "lang",
          Mix.plan(docs, "lang", "text", mixWeights, 20000L))
        .select("doc_id", "lang", "source")
    }),
    "d_shuffle_epoch" -> ((s, dir) => {
      // deterministic epoch shuffle: seeded-hash permutation into 8 shards
      // (shard = hash mod 8, pos = within-shard (hash, id) rank) — the
      // reproducible training-order shuffle; no global window by design
      TextQuality.epochShuffle(t(s, dir, "documents"), "doc_id", nShards = 8, epoch = 0)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),
    "d_mix_temperature" -> ((s, dir) => {
      // temperature-scaled mixture weights (α = 1/2 via IEEE sqrt): flattens
      // head languages, boosts the tail; output feeds Mix.plan as weightsBp
      Mix.temperatureWeightsBp(t(s, dir, "documents"), "lang", "text", sqrtIters = 1)
    }),
    "d_pack_fill" -> ((s, dir) => {
      // per-chunk fill: docs contributing and slots filled (bounded explode —
      // a doc spans ≤ n/capacity + 1 chunks)
      Pack.chunkSummary(
        Pack.concatChunks(s, t(s, dir, "documents"), "doc_id", "text",
          capacity = 2048L, bucketWidth = 64L), capacity = 2048L)
    }),
    "d_kmv_overlap" -> ((s, dir) => {
      // KMV bottom-k sketch (custom TypedImperativeAggregate) + pairwise
      // corpus-overlap estimation: distinct-vocabulary overlap between four
      // source strata from 128-long sketches alone — the sketch-space form
      // of decontamination/mixture overlap auditing. The oracle replays the
      // sketches (ORDER BY hash LIMIT k over distinct hash48 words) and the
      // exact-integer union/intersection estimators
      val words = t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1", "src2", "src3"))
        .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("wd"))
        .filter(col("wd") =!= "")
      val sk = Sketch.kmvSketch(words, col("wd"), Seq("source"), k = 128)
      Sketch.kmvOverlap(sk, "source", k = 128)
    }),
    "d_hll_distinct" -> ((s, dir) => {
      // mergeable HyperLogLog distinct-count sketch (p=8, trailing-zero
      // registers, exact-integer estimator — bit-replayable in SQL):
      // ≈ COUNT(DISTINCT active user-day) per event_type without shuffling
      // keys; map-side partial agg IS the register merge
      val ev = t(s, dir, "events").select(col("event_type"),
        concat(col("user_id").cast("string"), lit(":"),
          expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS STRING)")).as("uday"))
      Sketch.hllDistinct(ev, col("uday"), Seq("event_type"), p = 8)
    }),
    "d_cms_freq" -> ((s, dir) => {
      // Count-Min frequency sketch (4×1024 counters): per-user event-count
      // estimates for user_id < 50 next to the exact counts (est ≥ exact by
      // construction; counter table broadcast for the lookup)
      val ev = t(s, dir, "events")
      val uid = col("user_id").cast("string")
      val cms = Sketch.cmsTable(ev, uid, depth = 4, width = 1024)
      val keys = ev.filter(col("user_id") < 50)
      val exact = keys.groupBy(uid.as("key")).agg(count(lit(1)).as("exact_cnt"))
      Sketch.cmsLookup(cms, keys, uid, depth = 4, width = 1024)
        .join(exact, "key")
        .select(col("key").cast("long").as("user_id"), col("est_cnt"), col("exact_cnt"))
    }),
    "d_quantile_sketch" -> ((s, dir) => {
      // mergeable quantile-histogram sketch (log-linear bins, sub=5 →
      // ≤3.2% relative bin width): per-language doc-length percentiles
      // WITHOUT the full per-stratum sort d_len_percentiles pays — the
      // one data-sized pass is a (lang, bin) groupBy whose map-side
      // partial agg is the sketch merge; bit-replayable in SQL
      Sketch.qhPercentiles(t(s, dir, "documents"), col("n_chars"), Seq("lang"),
        qBp = Seq(2500, 5000, 7500, 9500, 9900), sub = 5)
    }),
    "q_communities" -> ((s, dir) => {
      // deterministic synchronous label-propagation communities over the
      // part–part co-purchase graph (same bounded edge set as
      // q_triangle_count) — 3 unrolled rounds, ties to the smallest label,
      // argmax as a plain max(struct) aggregate (no window sort)
      kg.LabelProp.run(s, ppEdges(s, dir), iterations = 3)
    }),

    // ---- the KG-construction pipeline itself (nemo_*; rows-only) ----
    "nemo_mentions_single" -> ((s, _) => annotatedMentions(s, 300, "token-single")),
    "nemo_mentions_morph" -> ((s, _) => annotatedMentions(s, 300, "morph")),
    "nemo_mentions_morph_yap" -> ((s, _) =>
      // G3: MD over the raw ambiguous lattice (no NER-guided pruning)
      annotatedMentions(s, 300, "morph", usePruning = false)),
    "nemo_mentions_multi_align" -> ((s, _) => annotatedMentions(s, 300, "multi-align-morph")),
    "nemo_mentions_multi_align_token" -> ((s, _) =>
      // G2/B5: fix_multi_biose collapses multi labels to token level — on the
      // oracle corpus this must equal the gold token-single layer
      annotatedMentions(s, 300, "multi-align-token")),
    "nemo_mentions_morph_align_token" -> ((s, _) =>
      // G6/C6: morph labels fixed back to token level — same gold equality
      annotatedMentions(s, 300, "morph-align-token")),
    "nemo_linked" -> ((s, _) => {
      // stable column set (the double score column stays engine-internal; the
      // oracle checks the winning candidate, which score determined)
      Linker.link(annotatedMentions(s, 300, "morph"), fixtureDict(s)).select(
        col("doc_id"), col("sent_id"), col("surface"), col("category"),
        col("start"), col("end"), col("level"), col("scenario"), col("occ"),
        col("entity_id"), col("canonical"), col("dict_category"))
    }),
    "nemo_triples" -> ((s, _) =>
      Triples.fromLinkedMentions(canonicalLinkedMentions(s))),
    "nemo_kg_2hop" -> ((s, _) => {
      // KG READ path: SPARQL-shaped basic-graph-pattern match over the
      // MATERIALIZED triples (every other nemo_* query runs pre-triple
      // stages) — ?a category PER . ?a inDoc ?d . ?b inDoc ?d, a≠b: which
      // entities co-occur in a document with a PER entity. The category
      // pattern is one (pred,obj) cell → AQE broadcasts it; the inDoc-inDoc
      // step shuffles on the shared ?d variable only. Oracle wraps the
      // nemo_triples derivation in a CTE and replays the joins.
      // matches against the session-materialized triple set (fixtureTriples
      // — built once, the deployment shape: BGP reads the triple STORE, not
      // a re-run of annotate→link per query)
      import graft.kg.Pattern
      import graft.kg.Pattern.{C, Tp, V}
      Pattern.matchBgp(fixtureTriples(s), Seq(
          Tp(V("a"), C("category"), C("PER")),
          Tp(V("a"), C("inDoc"), V("d")),
          Tp(V("b"), C("inDoc"), V("d"))))
        .filter(col("a") =!= col("b"))
        .select(col("a").as("per_ent"), col("b").as("other_ent"), col("d").as("doc"))
    }),
    "nemo_kg_2hop_store" -> ((s, _) => {
      // the STORED twin of nemo_kg_2hop: triples written pred-partitioned
      // (TableFormat.savePartitioned — pred=X/part_bucket=N, the vertical-
      // partitioning triple-store layout) and the SAME BGP run over the
      // LOADED table, so the constant-pred patterns prune whole predicate
      // directories at the scan (PartitionFilters — asserted in PatternSpec
      // via input_file_name) instead of filtering rows post-IO. Same oracle
      // as the in-memory twin: the layout must not change a single binding.
      // The store is a WRITE-TIME artifact, built once per session (same
      // design as d_ann_ivf's cached index): steady state measures the
      // partition-pruned READ, the store's whole point.
      import graft.kg.Pattern
      import graft.kg.Pattern.{C, Tp, V}
      Pattern.matchBgp(TableFormat.load(s, fixtureTripleStore(s)), Seq(
          Tp(V("a"), C("category"), C("PER")),
          Tp(V("a"), C("inDoc"), V("d")),
          Tp(V("b"), C("inDoc"), V("d"))))
        .filter(col("a") =!= col("b"))
        .select(col("a").as("per_ent"), col("b").as("other_ent"), col("d").as("doc"))
    }),
    "nemo_kg_bgp_stats" -> ((s, _) => {
      // stats-ordered BGP twin: the SAME 2hop question handed to matchBgp in
      // a deliberately bad caller order — two patterns sharing NO variable
      // first, so the naive left-to-right fold would cross-join their
      // binding sets before the third pattern connects them. Per-predicate
      // stats (a metadata read of the store's write-time lineage manifest —
      // Pattern.predStatsFromManifest, no table scan) let orderBgp seed with
      // the selective category=PER pattern and keep every join step
      // variable-connected: same bindings (the shared kg2hop oracle pins
      // it), cartesian-free plan (asserted in PatternSpec).
      import graft.kg.Pattern
      import graft.kg.Pattern.{C, Tp, V}
      val store = fixtureTripleStore(s)
      Pattern.matchBgp(TableFormat.load(s, store), Seq(
          Tp(V("b"), C("inDoc"), V("d")),
          Tp(V("a"), C("category"), C("PER")),
          Tp(V("a"), C("inDoc"), V("d"))),
          stats = Some(Pattern.predStatsFromManifest(store)))
        .filter(col("a") =!= col("b"))
        .select(col("a").as("per_ent"), col("b").as("other_ent"), col("d").as("doc"))
    }),
    "nemo_kg_count_meta" -> ((s, _) => {
      // lineage-manifest integrity: per-predicate COUNT(*) answered by
      // Sparql's metadata-only fast path — one manifest read, ZERO scans of
      // the triple table (asserted in SparqlSpec: the fast plan's only leaf
      // is Range) — compared against DuckDB's recount of the same triples.
      // At 10^12 triples this is the difference between a dashboard query
      // that returns in milliseconds and one that reads the corpus.
      import graft.kg.{Pattern, Sparql}
      val store = fixtureTripleStore(s)
      val stats = Pattern.predStatsFromManifest(store)
      val loaded = TableFormat.load(s, store)
      stats.keys.toSeq.sorted.map { p =>
        Sparql.query(loaded, s"SELECT (COUNT(*) AS ?n) WHERE { ?s $p ?o }",
            stats = Some(stats))
          .select(lit(p).as("pred"), col("n"))
      }.reduce(_.unionByName(_))
    }),
    "nemo_kg_optional" -> ((s, _) => {
      // SPARQL OPTIONAL over the materialized triples: every PER-category
      // entity, decorated with its aliases where sameAs edges exist — rows
      // WITHOUT an alias survive with the variable unbound (left-join
      // semantics, which no conjunctive BGP can express; the fixture has
      // both aliased and alias-free PER entities, so both branches are
      // exercised). NULL is folded to '' for the string-hash compare only.
      import graft.kg.Pattern
      import graft.kg.Pattern.{C, Tp, V}
      Pattern.matchBgpOpt(fixtureTriples(s),
          Seq(Tp(V("a"), C("category"), C("PER"))),
          Seq(Seq(Tp(V("a"), C("sameAs"), V("al")))))
        .select(col("a"), coalesce(col("al"), lit("")).as("al"))
        .distinct()
    }),
    "nemo_kg_union" -> ((s, _) => {
      // SPARQL UNION over the materialized triples, with branches binding
      // DIFFERENT variable sets: PER-category entities (binds only ?a) UNION
      // sameAs alias edges (binds ?a and ?al) — branch-1 rows surface with
      // ?al unbound (NULL), the standard's different-domain union semantics,
      // which a single conjunctive BGP cannot express. NULL folds to '' for
      // the string-hash compare only (same convention as nemo_kg_optional).
      import graft.kg.Pattern
      import graft.kg.Pattern.{C, Tp, V}
      Pattern.matchUnion(fixtureTriples(s),
          Seq(Seq(Tp(V("a"), C("category"), C("PER"))),
              Seq(Tp(V("a"), C("sameAs"), V("al")))))
        .select(col("a"), coalesce(col("al"), lit("")).as("al"))
        .distinct()
    }),
    "nemo_kg_sparql" -> ((s, _) => {
      // the QUERY-STRING twin of nemo_kg_optional: the same OPTIONAL
      // pattern shipped as TEXT through the Sparql front end — parser →
      // Pattern compilation must not change a single binding, so it lands
      // on the identical DuckDB oracle. (SELECT DISTINCT + the same
      // NULL→'' fold for the string-hash compare.)
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s),
          "SELECT DISTINCT ?a ?al WHERE { ?a category PER OPTIONAL { ?a sameAs ?al } }")
        .select(col("a"), coalesce(col("al"), lit("")).as("al"))
        .distinct()
    }),
    "nemo_kg_sparql_filter" -> ((s, _) => {
      // value FILTERs through the parser: a lexicographic range on the doc
      // binding plus a regex on it, both evaluated at group end over the
      // composed solutions — DuckDB replays with a string >= and
      // regexp_matches. This is the HTTP caller's filtered query shape (no
      // Column API on the wire); the numeric try_cast path is pinned in
      // SparqlSpec.
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s),
        "SELECT DISTINCT ?a ?d WHERE { ?a category PER . ?a inDoc ?d FILTER ( ?d >= doc-000100 ) FILTER REGEX ( ?d , '[0-4]$' ) }")
    }),
    "nemo_kg_sparql_describe" -> ((s, _) => {
      // DESCRIBE through the parser: every triple touching a PER entity —
      // the KG-exploration verb ("show me everything around these nodes").
      // The node set is the pattern's binding frame; membership is two
      // equi semi-joins (subj, obj) unioned — never an OR nested loop.
      // DuckDB replays with IN-subqueries over the same trip CTE.
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s), "DESCRIBE ?a WHERE { ?a category PER }")
    }),
    "nemo_kg_sparql_values" -> ((s, _) => {
      // VALUES inline data through the parser: the parameterized-query form
      // an HTTP caller uses to ask about a fixed entity list — compiles to
      // an IN-list restriction Catalyst pushes into the pattern scan.
      // DuckDB replays with SQL IN.
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s),
        "SELECT DISTINCT ?a ?d WHERE { ?a inDoc ?d . VALUES ?a { ent:1 ent:2 ent:3 ent:15 ent:999999 } }")
    }),
    "nemo_kg_sparql_graph" -> ((s, _) => {
      // GRAPH provenance queries (SPARQL 1.1 §13): the store's per-row doc
      // provenance read as its named-graph dimension — entity pairs whose
      // mentions are co-asserted by the SAME document, found by joining on
      // the graph BINDING alone (no inDoc predicate involved). The graph
      // variable folds into the BGP join like any shared variable, so the
      // plan is the same frame join tree; DuckDB replays as a doc_id
      // self-join over the trip CTE.
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s),
        "SELECT DISTINCT ?g ?a ?b WHERE { GRAPH ?g { ?a mentions ?x . ?b mentions ?y } . FILTER ( ?b != ?a ) }")
    }),
    "nemo_kg_sparql_groupconcat" -> ((s, _) => {
      // GROUP_CONCAT + SAMPLE (SPARQL 1.1 §11.4): per-doc entity rosters.
      // The spec leaves element order undefined; this engine SORTS the group
      // (the only deterministic answer a distributed run can promise), so
      // DuckDB replays with string_agg(... ORDER BY) over the same rows.
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s),
        "SELECT ?d (GROUP_CONCAT(DISTINCT ?e) AS ?ents) (SAMPLE(?e) AS ?one) WHERE { ?e inDoc ?d } GROUP BY ?d")
    }),
    "nemo_kg_sparql_boolfilter" -> ((s, _) => {
      // FILTER connectives (SPARQL 1.1 §17): `||`/`&&` with SQL-matching
      // precedence (&& binds tighter) — ORG entities anywhere, or PER
      // entities whose doc sorts below the entity id (an arbitrary but
      // deterministic var-var compare exercising the mixed tree). DuckDB
      // replays with OR/AND, whose precedence matches the grammar's.
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s),
        "SELECT DISTINCT ?a ?c ?d WHERE { ?a category ?c . ?a inDoc ?d . FILTER ( ?c = ORG || ?c = PER && ?d < ?a ) }")
    }),
    "nemo_kg_sparql_having" -> ((s, _) => {
      // HAVING (SPARQL 1.1 §11.2): post-aggregation restriction shipped as
      // text — mention-count-per-entity over the solution MULTISET, groups
      // under the threshold dropped AFTER the aggregate. DuckDB replays as
      // SQL HAVING over the trip CTE's mentions family.
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s),
        "SELECT ?e (COUNT(*) AS ?n) WHERE { ?e mentions ?m } GROUP BY ?e HAVING ( ?n >= 3 )")
    }),
    "nemo_kg_sparql_bind" -> ((s, _) => {
      // BIND (SPARQL 1.1 §10.1): mint a compound key from two bindings —
      // the IRI/skolem-minting device a KG consumer uses to address
      // (category, doc) cells. DuckDB replays CONCAT as string ||.
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s),
        "SELECT DISTINCT ?e ?qid WHERE { ?e category ?c . ?e inDoc ?d . BIND ( CONCAT ( ?c , \"@\" , ?d ) AS ?qid ) }")
    }),
    "nemo_kg_sparql_subquery" -> ((s, _) => {
      // subquery (SPARQL 1.1 §12): aggregation INSIDE the pattern —
      // categories of entities whose mention count clears a threshold, the
      // aggregate joined back on its shared projected variable and the
      // group filter reading the subquery's alias. DuckDB replays as a
      // join against a grouped derived table.
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s),
        "SELECT DISTINCT ?e ?c ?n WHERE { ?e category ?c . " +
          "{ SELECT ?e (COUNT(*) AS ?n) WHERE { ?e mentions ?m } GROUP BY ?e } " +
          "FILTER ( ?n >= 3 ) }")
    }),
    "nemo_kg_update" -> ((s, _) => {
      // SPARQL 1.1 UPDATE — the write half of the store surface: a fresh
      // pred-partitioned store (this query's own copy; the shared session
      // store stays immutable), then a 4-op script exercising every form —
      // DELETE WHERE drops the sameAs family (whole-predicate partition
      // delete), INSERT..WHERE derives and PERSISTS co-occurrence edges
      // (rule inference materialized — evaluated against the post-op-1
      // state, SPARQL's sequential semantics), INSERT DATA / DELETE DATA
      // ground rows. Each op is a partition-scoped commit: only the delta's
      // (pred, bucket) leaves are read + rewritten (dynamic partition
      // overwrite), untouched leaf files are byte-identical, and the
      // lineage manifest MERGES (untouched leaves inherit counts, touched
      // leaves recount from fresh footers). DuckDB replays the script as
      // set algebra over the trip CTE.
      import graft.kg.Sparql
      val work = java.nio.file.Files.createTempDirectory("graft-kgupd")
        .toString + "/triples"
      val trip = fixtureTriples(s) // checkpointed: the sizing count is a cache scan
      TableFormat.savePartitioned(trip, work,
        partCol = "pred", keyCol = "subj", stage = "triples",
        buckets = TableFormat.adaptiveBuckets(trip.count()))
      Sparql.update(s, work,
        """DELETE WHERE { ?a sameAs ?b } ;
          |INSERT { ?a coDoc ?b } WHERE { ?a category PER . ?a inDoc ?d . ?b inDoc ?d . FILTER ( ?b != ?a ) } ;
          |INSERT DATA { ent:graft category SYS . ent:graft label GraftEngine } ;
          |DELETE DATA { ent:graft category SYS }""".stripMargin)
      TableFormat.load(s, work).select("subj", "pred", "obj").distinct()
    }),
    "nemo_kg_sparql_path" -> ((s, _) => {
      // the parsed PROPERTY-PATH twin of nemo_kg_alias_reach:
      // (sameAs|^sameAs)+ shipped as text — the path sub-parser compiles to
      // predAlt/predInv/pathPlus, and the doubling fixpoint must land on
      // the same recursive-CTE oracle the CC-based programmatic twin does
      // (two independent closure algorithms, one answer).
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s),
        "SELECT DISTINCT ?src ?dst WHERE { ?src (sameAs|^sameAs)+ ?dst }")
    }),
    "nemo_kg_sparql_agg" -> ((s, _) => {
      // the parsed-AGGREGATE twin of nemo_kg_degree: GROUP BY + COUNT
      // DISTINCT shipped as text — parser → groupBy compilation must land
      // on the identical DuckDB oracle as the programmatic aggregate.
      import graft.kg.Sparql
      Sparql.query(fixtureTriples(s),
        "SELECT ?a (COUNT(DISTINCT ?d) AS ?deg) WHERE { ?a inDoc ?d } GROUP BY ?a")
    }),
    "nemo_kg_construct" -> ((s, _) => {
      // SPARQL CONSTRUCT — rule inference over the store: from each sameAs
      // edge derive the inverse (al aliasOf a) AND a type marker
      // (al category ALIAS); two template arms share ONE matched solution
      // set, and the output is store-schema triples that union straight
      // back in. Provenance duplicates collapse (CONSTRUCT emits a graph).
      import graft.kg.Pattern
      import graft.kg.Pattern.{C, Tp, V}
      Pattern.construct(fixtureTriples(s),
          Seq(Tp(V("a"), C("sameAs"), V("al"))),
          Seq(Tp(V("al"), C("aliasOf"), V("a")),
              Tp(V("al"), C("category"), C("ALIAS"))))
    }),
    "nemo_kg_ask" -> ((s, _) => {
      // SPARQL ASK — boolean existence, one row per question (1/0 as LONG:
      // DuckDB booleans stringify differently from Spark's, integers agree).
      // The true case short-circuits via limit(1); the false case must scan
      // to exhaustion to prove absence — both against the same store.
      import s.implicits._
      import graft.kg.Pattern
      import graft.kg.Pattern.{C, Tp, V}
      val t = fixtureTriples(s)
      Seq(
        ("per_exists", if (Pattern.ask(t, Seq(Tp(V("e"), C("category"), C("PER"))))) 1L else 0L),
        ("zzz_exists", if (Pattern.ask(t, Seq(Tp(V("e"), C("category"), C("ZZZ"))))) 1L else 0L)
      ).toDF("q", "matched")
    }),
    "nemo_kg_degree" -> ((s, _) => {
      // SPARQL aggregation (GROUP BY over pattern solutions): per-entity
      // document degree — matchBgp's binding table IS a DataFrame, so the
      // aggregate is a native partial-agg groupBy, no special machinery.
      import graft.kg.Pattern
      import graft.kg.Pattern.{C, Tp, V}
      Pattern.matchBgp(fixtureTriples(s), Seq(Tp(V("a"), C("inDoc"), V("d"))))
        .groupBy("a").agg(countDistinct("d").as("deg"))
    }),
    "nemo_kg_minus" -> ((s, _) => {
      // SPARQL MINUS over the materialized triples: PER-category entities
      // WITHOUT any sameAs alias — negation no conjunctive BGP or OPTIONAL
      // projection can express directly; compiles to ONE left_anti join on
      // the shared variable (broadcast: the sameAs family is dictionary-
      // sized). Complements nemo_kg_optional, which keeps these rows with
      // the alias unbound.
      import graft.kg.Pattern
      import graft.kg.Pattern.{C, Tp, V}
      Pattern.matchBgpMinus(fixtureTriples(s),
          Seq(Tp(V("a"), C("category"), C("PER"))),
          Seq(Seq(Tp(V("a"), C("sameAs"), V("al")))))
    }),
    "nemo_kg_alias_reach" -> ((s, _) => {
      // SPARQL property path (sameAs|^sameAs)+ — alias connectivity: the
      // sameAs family unioned with its inverse, closed by iterative
      // doubling. Direction changes matter: the fixture dictionary's alias
      // edges all point alias→canonical, so two aliases of one canonical
      // entity are connected ONLY through the inverse step.
      import graft.kg.Pattern
      Pattern.predSymPathPlus(fixtureTriples(s), "sameAs")
    }),
    "nemo_kg_reach" -> ((s, _) => {
      // SPARQL property-path p+ over the materialized triples: transitive
      // co-mention reachability. Edge set: (a, b) share a document (derived
      // from the inDoc predicate family, symmetric by construction) —
      // entities connected through CHAINS of shared documents, a genuinely
      // multi-hop answer (doc overlap is not transitive). The edge set is
      // symmetric, so the closure takes Pattern.symClosurePairs — component
      // labels then ONE within-component expansion (linear shuffles; the
      // dense fixture component made iterative doubling push ~c³
      // intermediate rows per round — 5.9 s vs 1.4 s steady-state measured,
      // identical 49733 rows, equality asserted in PatternSpec). Oracle replays the
      // closure as a DuckDB recursive CTE over the same derived edges.
      import graft.kg.Pattern
      val trip = fixtureTriples(s)
      val ind = trip.filter(col("pred") === "inDoc")
        .select(col("subj").as("ent"), col("obj").as("d")).distinct()
      val edges = ind.as("x").join(ind.as("y"), col("x.d") === col("y.d"))
        .filter(col("x.ent") =!= col("y.ent"))
        .select(col("x.ent").as("src"), col("y.ent").as("dst")).distinct()
      Pattern.symClosurePairs(edges)
    }),
    "nemo_triples_incr" -> ((s, _) =>
      // the incremental-maintenance twin of nemo_triples: the SAME fixture
      // corpus ingested as two delta batches via Pipeline.runIncremental
      // (snapshot-append stage tables, exactly-once batch commits); the full
      // triples table must hash-equal the one-shot run's gold-derived oracle
      incrTriples(s)),
    "nemo_triples_dictgrow" -> ((s, _) =>
      // dict-GROWTH twin: batch 2 arrives with a grown dictionary +
      // dictDelta; the recovery fold (incremental CC over touched alias
      // blocks, block-pruned retro-link, affected-doc triple recompute —
      // annotation never recomputed) must land on the SAME one-shot
      // full-dict oracle as nemo_triples
      dictGrowTriples(s)),
    "nemo_triples_dictshrink" -> ((s, _) =>
      // dict-SHRINK twin: batch 2 arrives after a fifth of the dictionary
      // was deleted; the dual fold (survivor-subgraph CC re-solve for SPLIT
      // components, removed-winner retro-link, affected-doc triple
      // recompute) must land on the one-shot shrunk-dict oracle
      dictShrinkTriples(s)),
    "nemo_cooc" -> ((s, _) => {
      // KG densification after linking+canonicalization: canonical entities
      // co-mentioned in a sentence, kept when exact-integer lift ≥ 1.0
      // (candidate edges for relation extraction). Oracle replays the full
      // chain link→CC-closure→pairs→lift in SQL from fixture gold
      coocEdges(s)
    }),
    "nemo_salience" -> ((s, _) => {
      // entity salience: fixed-point integer PageRank over the symmetrized
      // co-occurrence graph — which canonical entities sit at the center of
      // the corpus's co-mention structure. Oracle: the cooc chain's edge
      // CTEs feed the same unrolled-PR replay as q_pagerank.
      val e = coocEdges(s).select(col("ent_a").as("src"), col("ent_b").as("dst"))
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      kg.PageRank.run(s, sym, iterations = 5, allReceive = true)
        .select(col("node").as("canonical_id"), col("rank").as("salience"))
    }),
    "nemo_media_features" -> ((s, _) => {
      // multimodal plumbing: media spans → GRFT binary payloads → batched
      // feature extraction; modality/dims/frames are PARSED from the payload
      // header bytes (the oracle recomputes them from the media_ref hex rule
      // the builder encoded into the headers)
      val docs = fixtureDocsDf(s, 300).toDF()
      Multimodal.extractFeatures(s, Multimodal.syntheticMedia(s, docs)).toDF()
        .select(col("doc_id"), col("media_ref"), col("modality"),
          col("width"), col("height"), col("frames"))
    }),
    "d_media_decode" -> ((s, _) => {
      // real media decode: GRFT bodies are genuine P6 / PCM-WAV / P6-frame
      // payloads; the extractor PARSES them (no codec libs — pure-JVM PPM and
      // RIFF/WAVE parsers) and the features are exact-integer sums over the
      // DECODED pixels/samples. The oracle re-derives the sums in closed form
      // from the media_ref hex rule the synthetic encoder used, so a decoder
      // that mis-parses geometry, drops frames, or silently degrades
      // (decoded=false) hash-fails.
      val docs = fixtureDocsDf(s, 300).toDF()
      Multimodal.extractFeatures(s, Multimodal.syntheticMedia(s, docs)).toDF()
        .select(col("doc_id"), col("media_ref"), col("modality"), col("frames"),
          col("decoded"), col("px_sum"), col("n_px"),
          col("samp_abs_sum"), col("n_samp"))
    }),
    "d_media_neardup" -> ((s, _) => {
      // multimodal near-dup: aHash over DECODED pixels (image + leading
      // video frame) → the shared 48-bit Hamming banding (capped buckets) →
      // exact bit_count verify. The oracle re-derives every hash from the
      // synthetic pixel rule (like d_media_decode) and replays the banding.
      val docs = fixtureDocsDf(s, 300).toDF()
      Multimodal.mediaNearDuplicates(s, Multimodal.syntheticMedia(s, docs),
        maxDist = 3, maxBucket = 64)
    }),
    "d_media_resize" -> ((s, _) => {
      // payload→payload resize: decode every visual frame, nearest-neighbor
      // resample to 16×12, re-encode, re-wrap — then run the feature
      // extractor over the RESIZED payloads, so the oracle (closed-form
      // resized px sums) verifies the whole decode→resize→encode→decode loop.
      val docs = fixtureDocsDf(s, 300).toDF()
      Multimodal.extractFeatures(s,
        Multimodal.resizeVisual(s, Multimodal.syntheticMedia(s, docs), 16, 12)).toDF()
        .select(col("doc_id"), col("media_ref"), col("modality"),
          col("width"), col("height"), col("frames"), col("decoded"),
          col("px_sum"), col("n_px"), col("samp_abs_sum"), col("n_samp"))
    }),
    "d_media_framesample" -> ((s, _) => {
      // frame sampling: each visual payload → evenly-spaced sampled frames as
      // standalone image payloads (ref#f<idx>), re-decoded by the extractor;
      // the oracle re-derives each sampled frame's exact pixel sum.
      val docs = fixtureDocsDf(s, 300).toDF()
      Multimodal.extractFeatures(s,
        Multimodal.sampleFrames(s, Multimodal.syntheticMedia(s, docs), k = 4)).toDF()
        .select(col("doc_id"), col("media_ref"), col("modality"),
          col("width"), col("height"), col("frames"), col("decoded"),
          col("px_sum"), col("n_px"))
    })
  )

  /** Auxiliary ORACLE-INPUT tables. Written by Verify to the sibling dir `<outDir>_aux/<name>` (outside the driver-scanned output directory)
    * and referenced from oracleSql via the `{{AUX}}` placeholder (substituted
    * by Verify with the real path). Two kinds, both pipeline-INDEPENDENT:
    *  - deterministic fixture gold straight from the generator (gold_sents,
    *    gold_media, dict) — the nemo_* oracles re-derive mentions/links/triples
    *    from gold in SQL, so a pipeline that drifts from gold FAILS the gate;
    *  - frozen randomness of the LSH/IVF ops (minhash coefs, hyperplanes,
    *    k-means centroids) so the oracle replays the identical algorithm. */
  def auxTables: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gold_sents" -> ((s, _) => {
      import s.implicits._
      s.range(0, 300, 1, s.sparkContext.defaultParallelism).flatMap { i =>
        val d = Fixtures.doc(i.toInt)
        d.sentences.zipWithIndex.map { case (sn, idx) =>
          (d.docId, idx.toLong, sn.tokens, sn.goldSingle,
            sn.morphForms.flatten, sn.goldMorph.flatten)
        }
      }.toDF("doc_id", "sent_id", "tok_forms", "tok_single", "morph_forms", "morph_labels")
    }),
    "gold_media" -> ((s, _) => {
      import s.implicits._
      s.range(0, 300, 1, s.sparkContext.defaultParallelism).flatMap { i =>
        val d = Fixtures.doc(i.toInt)
        d.spans.filter(_.kind == "media").map(sp => (d.docId, sp.media_ref))
      }.toDF("doc_id", "media_ref")
    }),
    "dict" -> ((s, _) => fixtureDict(s)),
    "minhash_coefs" -> ((s, _) => {
      import s.implicits._
      // 16 bands × 2 rows — must mirror the d_minhash_neardup parameters
      Dedup.minhashCoefs(32).zipWithIndex
        .map { case ((a, b), i) => (i, a, b) }.toSeq.toDF("i", "a", "b")
    }),
    "lsh_planes" -> ((s, dir) => {
      import s.implicits._
      val dim = t(s, dir, "embeddings").select(size(col("embedding"))).first().getInt(0)
      Similarity.hyperplanes(dim, 32).zipWithIndex
        .map { case (p, i) => (i, p.toSeq) }.toSeq.toDF("plane_id", "plane")
    }),
    "ivf_centroids" -> ((s, dir) => {
      import s.implicits._
      // identical call shape to d_ann_ivf's internal computation — centroids
      // are bit-deterministic (fixed-point Lloyd sums), so values agree
      val corpus = t(s, dir, "embeddings").filter(col("vec_id") >= 5)
      Similarity.centroids(corpus, "vec_id", "embedding", nCells = 16)
        .map { case (c, v) => (c, v.toSeq) }.toSeq.toDF("cell", "cent")
    }),
    "lm_logtab" -> ((s, dir) => {
      // µ-log table 1..(max c1 + V) — the engine's own fixed-point log values,
      // so the d_lm_perplexity oracle never depends on DuckDB's ln ULP
      TextQuality.lmLogTable(t(s, dir, "documents"))
    }),
    "dsir_logtab" -> ((s, dir) => {
      // µ-log table 1..(total tokens + buckets) for the d_dsir_weights replay
      TextQuality.dsirLogTable(t(s, dir, "documents"))
    }),
    "bm25_logtab" -> ((s, dir) => {
      // µ-log table 1..(2N+2) for the d_bm25_topk idf replay
      graft.datapipe.InvertedIndex.bm25LogTable(s, t(s, dir, "documents").count())
    }),
    "pq_codebooks" -> ((s, dir) => {
      import s.implicits._
      // THE books d_ann_pq used — the session-cached pqIndex artifact, not a
      // retraining (bit-deterministic either way, but reuse is free and
      // cannot diverge from what the engine ranked with)
      pqIndex(s, dir)._1
        .map { case (sub, code, cent) => (sub, code, cent.toSeq) }
        .toSeq.toDF("sub", "code", "cent")
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. `{{AUX}}` is replaced by Verify with the aux
    * table directory. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty
        |FROM lineitem WHERE l_quantity < 5 AND l_returnflag = 'R'""".stripMargin,
    "q_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_broadcast" ->
      """SELECT r_name, COUNT(*) AS n_cust
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q_semi_join" ->
      """SELECT o_orderkey, o_orderstatus FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)""".stripMargin,
    "q_anti_join" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')""".stripMargin,
    "q_window_occ" ->
      """SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS occ
        |FROM orders""".stripMargin,
    "q_ordered_groupconcat" ->
      """SELECT o_custkey, STRING_AGG(o_orderpriority, '^' ORDER BY o_orderkey) AS prio_seq
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "q_set_intersect" ->
      """SELECT DISTINCT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |INTERSECT
        |SELECT DISTINCT CAST(s_nationkey AS INT) AS nationkey FROM supplier""".stripMargin,
    "q_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, rk FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "q_cc_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS src, CAST(n_regionkey AS BIGINT) + 1000 AS dst FROM nation
        |), sym AS (
        |  SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e
        |), reach(node, comp) AS (
        |  SELECT src, src FROM sym
        |  UNION
        |  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.node
        |)
        |SELECT node, MIN(comp) AS component FROM reach GROUP BY node""".stripMargin,
    "q_link_blocked" ->
      """SELECT m.p_partkey, d.p_brand
        |FROM part m JOIN (SELECT DISTINCT p_brand FROM part) d
        |ON string_split(trim(regexp_replace(regexp_replace(lower(m.p_brand), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')), ' ')[1]
        | = string_split(trim(regexp_replace(regexp_replace(lower(d.p_brand), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')), ' ')[1]""".stripMargin,
    "q_event_window" ->
      """SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
        |FROM events GROUP BY event_type, date_trunc('hour', ts)""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(event_type, 'ALL') AS event_type, COUNT(*) AS n
        |FROM events GROUP BY ROLLUP(event_type)""".stripMargin,
    "q_attrib_join" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
        |  date_diff('second', v.ts, c.ts) AS lag_s
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id AND c.event_type = 'click'
        |  AND v.event_type = 'view'
        |  AND v.ts BETWEEN c.ts - INTERVAL 12 HOUR AND c.ts""".stripMargin,
    // deterministic window replay instead of DuckDB's native ASOF JOIN: at
    // equal candidate timestamps ASOF picks an UNSPECIFIED row, while the
    // engine deterministically takes the max payload — the replay encodes
    // that tie-break (ts closest, then event_id DESC) explicitly
    "q_asof_join" ->
      """SELECT event_id, signup_id FROM (
        |  SELECT p.event_id, s.event_id AS signup_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY s.ts DESC, s.event_id DESC) AS rk
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |    ON p.user_id = s.user_id AND s.ts <= p.ts)
        |WHERE rk = 1""".stripMargin,
    "q_asof_forward" ->
      """SELECT event_id, signup_id FROM (
        |  SELECT p.event_id, s.event_id AS signup_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY s.ts ASC, s.event_id DESC) AS rk
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |    ON p.user_id = s.user_id AND s.ts >= p.ts)
        |WHERE rk = 1""".stripMargin,
    // the oracle states range-join semantics as the raw theta join the
    // bucketized engine plan is replacing — fine at oracle scale
    "q_range_join" ->
      """SELECT p.event_id, s.event_id AS signup_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id
        | AND epoch_us(p.ts) BETWEEN epoch_us(s.ts) AND epoch_us(s.ts) + 604800000000""".stripMargin,
    "q_interval_overlap" ->
      """SELECT c.event_id, s.event_id AS signup_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON c.user_id = s.user_id
        | AND epoch_us(c.ts) <= epoch_us(s.ts) + 604800000000
        | AND epoch_us(s.ts) <= epoch_us(c.ts) + 3600000000""".stripMargin,
    "d_exact_dedup_keep" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(substr(text, 1, 30)) ORDER BY doc_id) AS rk
        |  FROM documents) WHERE rk = 1""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events""".stripMargin,
    "q_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events),
        |y AS (SELECT user_id, ts, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS g FROM x)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
        |FROM y GROUP BY user_id, g""".stripMargin,
    "d_token_count" ->
      """SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens FROM documents""".stripMargin,
    "d_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents""".stripMargin,
    "d_exact_dup_groups" ->
      """SELECT fp, COUNT(*) AS dup_count, MIN(doc_id) AS keep_id
        |FROM (SELECT doc_id, md5(substr(text, 1, 30)) AS fp FROM documents)
        |GROUP BY fp HAVING COUNT(*) > 1""".stripMargin,
    "d_quality_basis" ->
      raw"""SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  (CAST(len(list_filter(toks, x -> list_contains(${OracleSql.sqlStopwordsList}, x))) AS BIGINT) * 10000) // len(toks) AS stopword_bp,
        |  (CAST(len(list_distinct(toks)) AS BIGINT) * 10000) // len(toks) AS distinct_bp
        |FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)""".stripMargin,
    "d_bpe_token_count" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]')) AS INT) AS n_bpe
        |FROM documents""".stripMargin,
    "d_cosine_pairs_exact" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id AND a.vec_id < 1000 AND b.vec_id < 1000
        |  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""".stripMargin,
    "d_ann_topk" -> OracleSql.annTopkSql, // shared with annRecall's exact arm
    "d_ann_sq8" -> OracleSql.annSq8,

    // ---- fixture-gold oracles (aux tables; {{AUX}} substituted by Verify) ----
    // The NLP-core oracles re-derive the expected output from the generator's
    // GOLD layers in pure SQL (BIOSE run-scan as a window-function grouping —
    // valid because gold is well-formed BIOSE; linking as block join + token
    // Jaccard; canonicalization as a recursive-CTE closure over star edges).
    // The pipeline's decoded output must match gold end-to-end to pass.
    "nemo_mentions_single" -> OracleSql.mentions("tok_forms", "tok_single", "token", "token-single"),
    "nemo_mentions_morph" -> OracleSql.mentions("morph_forms", "morph_labels", "morph", "morph"),
    "nemo_mentions_morph_yap" -> OracleSql.mentions("morph_forms", "morph_labels", "morph", "morph"),
    "nemo_mentions_multi_align" -> OracleSql.mentions("morph_forms", "morph_labels", "morph", "multi-align-morph"),
    "nemo_mentions_multi_align_token" -> OracleSql.mentions("tok_forms", "tok_single", "token", "multi-align-token"),
    "nemo_mentions_morph_align_token" -> OracleSql.mentions("tok_forms", "tok_single", "token", "morph-align-token"),
    "nemo_linked" -> OracleSql.linked,
    "nemo_triples" -> OracleSql.triples,
    "nemo_kg_2hop" -> OracleSql.kg2hop("PER"),
    // the pred-partitioned STORE layout must not change a single binding
    "nemo_kg_2hop_store" -> OracleSql.kg2hop("PER"),
    // stats-ordered fold of an adversarially-ordered BGP: bindings must be
    // IDENTICAL to the caller-ordered twins — same oracle pins it
    "nemo_kg_bgp_stats" -> OracleSql.kg2hop("PER"),
    // manifest stats vs a DuckDB recount of the same triples
    "nemo_kg_count_meta" -> OracleSql.kgCountMeta,
    // SPARQL OPTIONAL = SQL LEFT JOIN over the same trip CTE
    "nemo_kg_optional" -> OracleSql.kgOptional("PER"),
    // SPARQL UNION with different-domain branches = SQL UNION ALL, '' for unbound
    "nemo_kg_union" -> OracleSql.kgUnion("PER"),
    // property-path p+ = recursive-CTE transitive closure, same fixpoint
    "nemo_kg_reach" -> OracleSql.kgReach,
    // SPARQL MINUS on a shared variable = SQL anti join over the same trip CTE
    "nemo_kg_minus" -> OracleSql.kgMinus("PER"),
    // the parsed twin of nemo_kg_optional — identical bindings, same oracle
    "nemo_kg_sparql" -> OracleSql.kgOptional("PER"),
    // the parsed aggregate lands on the same oracle as the programmatic one
    "nemo_kg_sparql_agg" -> OracleSql.kgDegree,
    // value FILTERs: TRY_CAST numeric + regex replayed in SQL
    "nemo_kg_sparql_filter" -> OracleSql.kgSparqlFilter,
    // VALUES inline data = SQL IN list over the same trip CTE
    "nemo_kg_sparql_values" -> OracleSql.kgSparqlValues,
    // DESCRIBE = subj/obj IN-subquery union over the same trip CTE
    "nemo_kg_sparql_describe" -> OracleSql.kgSparqlDescribe,
    // parsed (sameAs|^sameAs)+ (doubling) == CC-based twin == recursive CTE
    "nemo_kg_sparql_path" -> OracleSql.kgAliasReach,
    "nemo_kg_sparql_graph" -> OracleSql.kgSparqlGraph,
    "nemo_kg_sparql_boolfilter" -> OracleSql.kgSparqlBoolFilter,
    "nemo_kg_sparql_groupconcat" -> OracleSql.kgSparqlGroupConcat,
    "nemo_kg_sparql_having" -> OracleSql.kgSparqlHaving,
    "nemo_kg_sparql_bind" -> OracleSql.kgSparqlBind,
    "nemo_kg_sparql_subquery" -> OracleSql.kgSparqlSubquery,
    "nemo_kg_update" -> OracleSql.kgUpdate("PER"),
    // CONSTRUCT templates = UNION of selects (graph set semantics)
    "nemo_kg_construct" -> OracleSql.kgConstruct,
    // ASK = EXISTS as 1/0 BIGINT
    "nemo_kg_ask" -> OracleSql.kgAsk,
    // GROUP BY over pattern bindings = plain SQL aggregation
    "nemo_kg_degree" -> OracleSql.kgDegree,
    // (sameAs|^sameAs)+ = recursive CTE over the symmetrized edge set
    "nemo_kg_alias_reach" -> OracleSql.kgAliasReach,
    // incremental two-batch ingest must land on the SAME full-corpus oracle
    "nemo_triples_incr" -> OracleSql.triples,
    // dict-growth fold must land on the SAME full-corpus, full-dict oracle
    "nemo_triples_dictgrow" -> OracleSql.triples,
    // dict-shrink fold must land on the one-shot SHRUNK-dict chain
    "nemo_triples_dictshrink" -> OracleSql.triplesShrunk,
    "nemo_cooc" -> OracleSql.cooc,
    "q_bloom_join" ->
      """SELECT l.l_orderkey, count(*) AS n_items,
        |  CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY l.l_orderkey""".stripMargin,
    "d_snapshot_scan" ->
      """SELECT CAST(1 AS BIGINT) AS snap_id, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents WHERE doc_id < 250
        |UNION ALL SELECT CAST(2 AS BIGINT), count(*),
        |  CAST(sum(n_chars) AS BIGINT) FROM documents""".stripMargin,
    "d_incr_scan" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id >= 250",
    "d_snapshot_rewrite" ->
      """SELECT 'overwrite' AS op, CAST(1 AS BIGINT) AS n_dirs, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents""".stripMargin,
    "d_stats_prune" ->
      """SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS n_dirs_read
        |FROM documents WHERE doc_id BETWEEN 130 AND 240""".stripMargin,
    "d_cluster_prune" ->
      """SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS n_dirs_read
        |FROM documents WHERE n_chars BETWEEN 180 AND 280""".stripMargin,
    "q_bucket_prune" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id = 137",
    "d_mor_delete" ->
      """SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS n_dels
        |FROM documents
        |WHERE doc_id NOT BETWEEN 200 AND 220 AND doc_id NOT BETWEEN 300 AND 305
        |UNION ALL
        |SELECT doc_id, 'yy', n_chars, CAST(1 AS BIGINT)
        |FROM documents WHERE doc_id = 210""".stripMargin,
    "d_grid_prune" ->
      """SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS n_dirs_read
        |FROM documents
        |WHERE doc_id BETWEEN 50 AND 200 AND n_chars BETWEEN 180 AND 280""".stripMargin,
    "d_merge_upsert" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id BETWEEN 130 AND 150 THEN 'xx' ELSE lang END AS lang,
        |  CASE WHEN doc_id BETWEEN 130 AND 150 THEN n_chars + 100000 ELSE n_chars END AS n_chars,
        |  CAST(3 AS BIGINT) AS n_dirs, CAST(1 AS BIGINT) AS n_rewritten
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000, lang, n_chars, CAST(3 AS BIGINT), CAST(1 AS BIGINT)
        |FROM documents WHERE doc_id BETWEEN 300 AND 304""".stripMargin,
    // Replays the GRFT header fields from the media_ref tail-hex rule
    // (Multimodal.syntheticMedia): code = hv1 % 3 → modality; video frames =
    // 1 + hv2 (framePlan of (1+hv2)·1000 ms); image/video dims = 64 + 4·hv3/4.
    "nemo_media_features" ->
      """WITH g AS (SELECT doc_id, media_ref FROM read_parquet('{{AUX}}/gold_media/*.parquet')),
        |h AS (SELECT doc_id, media_ref,
        |  greatest(strpos('0123456789abcdef', substr(media_ref, length(media_ref), 1)) - 1, 0) % 3 AS code,
        |  greatest(strpos('0123456789abcdef', substr(media_ref, length(media_ref) - 1, 1)) - 1, 0) AS hv2,
        |  greatest(strpos('0123456789abcdef', substr(media_ref, length(media_ref) - 2, 1)) - 1, 0) AS hv3,
        |  greatest(strpos('0123456789abcdef', substr(media_ref, length(media_ref) - 3, 1)) - 1, 0) AS hv4
        |  FROM g)
        |SELECT doc_id, media_ref,
        |  CASE code WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(CASE WHEN code = 1 THEN 0 ELSE 64 + 4 * hv3 END AS INT) AS width,
        |  CAST(CASE WHEN code = 1 THEN 0 ELSE 64 + 4 * hv4 END AS INT) AS height,
        |  CAST(CASE WHEN code = 2 THEN 1 + hv2 ELSE 1 END AS INT) AS frames
        |FROM h""".stripMargin,
    "d_media_decode" -> OracleSql.mediaDecode,
    "d_lang_id" -> OracleSql.langId,
    "d_ngram_jaccard" -> OracleSql.ngramJaccard,
    "d_ann_ivf" -> OracleSql.annIvf,
    "d_ann_pq" -> OracleSql.annPq,
    "d_ann_ivfpq" -> OracleSql.annIvfPq,
    "d_ann_recall" -> OracleSql.annRecall,
    "d_minhash_neardup" -> OracleSql.minhashNearDup,
    "d_simhash_neardup" -> OracleSql.simhashNearDup,
    "d_cosine_neardup" -> OracleSql.cosineNearDup,
    "d_semdedup" -> OracleSql.semDedup,
    "d_bpe_merge_pairs" -> OracleSql.bpeMergePairs,
    "d_bpe_train" -> OracleSql.bpeTrain(8),
    "d_bpe_segment" -> OracleSql.bpeSegment(8),
    "d_fingerprint_poly" -> OracleSql.fingerprintPoly,
    "d_rep_topgram" -> OracleSql.repetitionSignals,
    "d_c4_filter" -> OracleSql.c4Filter,
    "d_hash_sample" -> OracleSql.hashSample,
    "d_shuffle_epoch" -> OracleSql.shuffleEpoch(8),
    "d_winnow" -> OracleSql.winnow,
    "d_winnow_pairs" -> OracleSql.winnowPairs(maxBucket = 64, minShared = 2),
    "d_media_neardup" -> OracleSql.mediaNearDup(maxDist = 3, maxBucket = 64),
    "d_media_resize" -> OracleSql.mediaResize(16, 12),
    "d_media_framesample" -> OracleSql.mediaFrameSample(4),
    "d_chunk_overlap" ->
      """WITH nn AS (SELECT doc_id, len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n, CAST(i AS INT) AS chunk_id
        |      FROM (SELECT * FROM nn WHERE n > 0),
        |           unnest(generate_series(0, greatest(0, (n - 128 + 96 - 1) // 96))) AS t(i))
        |SELECT doc_id, chunk_id,
        |  CAST(chunk_id * 96 AS INT) AS start_tok,
        |  CAST(least(chunk_id * 96 + 128, n) AS INT) AS end_tok,
        |  CAST(least(chunk_id * 96 + 128, n) - chunk_id * 96 AS INT) AS n_toks
        |FROM c""".stripMargin,
    "d_lm_perplexity" -> OracleSql.lmPerplexity,
    "d_dsir_weights" -> OracleSql.dsirWeights(),
    "d_mix_temperature" ->
      """WITH stats AS (
        |  SELECT lang AS stratum,
        |    CAST(SUM(COALESCE(len(string_split_regex(trim(text), '\s+')), 0)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |s2 AS (SELECT stratum, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS w FROM stats),
        |d AS (SELECT list_reduce(
        |        list_prepend(0.0, list_transform(
        |          list_sort(list(struct_pack(stratum := stratum, w := w))), s -> s.w)),
        |        (a, b) -> a + b) AS denom FROM s2)
        |SELECT stratum, n_tokens,
        |  CASE WHEN d.denom > 0 THEN CAST(floor(10000.0 * w / d.denom) AS BIGINT)
        |       ELSE 0 END AS weight_bp
        |FROM s2, d""".stripMargin,
    "d_incr_dedup" ->
      """WITH h AS (SELECT DISTINCT md5(substr(text, 1, 30)) AS fp
        |           FROM documents WHERE doc_id < 250),
        |k AS (SELECT doc_id, fp FROM (
        |  SELECT doc_id, md5(substr(text, 1, 30)) AS fp,
        |    ROW_NUMBER() OVER (PARTITION BY md5(substr(text, 1, 30)) ORDER BY doc_id) AS rk
        |  FROM documents WHERE doc_id >= 250) WHERE rk = 1)
        |SELECT k.doc_id, k.fp FROM k LEFT JOIN h ON k.fp = h.fp WHERE h.fp IS NULL""".stripMargin,
    "d_exact_k_sample" -> OracleSql.exactKSample,
    "d_neardup_clusters" -> OracleSql.nearDupClusters,
    "d_vocab_topk" -> OracleSql.vocabTopK,
    "d_crossdoc_ngrams" -> OracleSql.crossDocDupNgrams,
    "d_len_percentiles" -> OracleSql.lenPercentiles,
    "d_decontaminate" -> OracleSql.decontaminate,
    "d_dup_span_removal" -> OracleSql.dupSpanRemoval,
    "d_pii_redact" -> OracleSql.piiRedact,
    "d_curation_pipeline" -> OracleSql.curationPipeline,
    "d_mix_plan" -> OracleSql.mixPlan(20000L, mixWeights),
    "d_mix_apply" -> OracleSql.mixApply(20000L, mixWeights),
    "d_pack_chunks" -> OracleSql.packChunks(2048L),
    "d_pack_fill" -> OracleSql.packFill(2048L),
    "q_pagerank" -> OracleSql.pageRank(5),
    "q_triangle_count" -> OracleSql.triangleCount,
    "q_kcore" -> OracleSql.kcore,
    "q_link_predict" -> OracleSql.linkPredict,
    "d_invidx_topk" -> OracleSql.invIdxTopK,
    "d_bm25_topk" -> OracleSql.bm25TopK,
    "q_bfs_levels" -> OracleSql.bfsLevels(6),
    "d_split_leakage" -> OracleSql.splitLeakage(valBp = 2000, testBp = 1000),
    "d_ppl_buckets" -> OracleSql.pplBuckets,
    "d_ppl_buckets_sketch" -> OracleSql.pplBucketsSketch(sub = 5),
    "d_domain_stats" -> OracleSql.domainStats(shortTokens = 10),
    "d_hybrid_rrf" -> OracleSql.hybridRrf(k = 60, topK = 10),
    "nemo_salience" -> OracleSql.salience(5),
    "d_hll_distinct" -> OracleSql.hllDistinct,
    "d_kmv_overlap" -> OracleSql.kmvOverlap,
    "d_cms_freq" -> OracleSql.cmsFreq,
    "d_quantile_sketch" -> OracleSql.quantileSketch,
    "q_communities" -> OracleSql.communities(3)
  )
}
