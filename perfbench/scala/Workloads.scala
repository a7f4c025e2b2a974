package perfbench

import graft.Pipeline
import graft.fixtures.Fixtures
import graft.io.TableFormat
import graft.kg.{Canonicalize, Linker, Pattern, Sparql, Triples}
import graft.schema.{Doc, InputDoc}
import graft.serve.KgHttp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

object Workloads {

  // Sizes, rates and rep counts are fixed here so that every commit runs the
  // same work. They were chosen on a 4-core host so that one run of each
  // workload takes about a minute; see perfbench/README.md.
  val BuildDocs = 2000
  val ServeDocs = 2000
  val BuildSetupReps = 5
  val ServeSetupReps = 3
  val RoundReads = 6         // reads after each measured update, one client
  val WarmupRounds = 8       // warm-up: WarmupReads reads per update, nproc-1 clients
  val WarmupReads = 6
  val RoundS = 2.0           // about how long a measured round takes at the base commit
  val PoolEntities = 8       // entity constants per query shape
  val MaxRows = 1000         // KgHttp's default page size
  val Analytics = Seq("q_link_predict", "q_pagerank", "d_minhash_neardup",
    "d_ngram_jaccard", "q_kcore")

  /** Set-up reps: several, so setup_s is a median; one in a traced run,
    * which reports no end-to-end numbers. */
  private def setupReps(ctx: Ctx, n: Int): Int = if (ctx.trace) 1 else n

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[T](body: => T): (T, Double) = { val t0 = System.nanoTime(); val r = body; (r, secs(t0)) }

  /** Doc ids of the corpus for `seed`: a seed-dependent block of fixture
    * ids, disjoint from the 0..25k ids the repo's tests and harness use. */
  private def docOffset(seed: Long): Int = 1000000 + (java.lang.Math.floorMod(seed, 1000L).toInt * 10000)

  private def corpus(spark: SparkSession, off: Int, n: Int, nproc: Int): Dataset[InputDoc] = {
    import spark.implicits._
    val ds = spark.range(off.toLong, off.toLong + n, 1, nproc)
      .mapPartitions(_.map { i => val d = Fixtures.doc(i.toInt); InputDoc(d.docId, d.spans.toArray) })
      .persist(StorageLevel.MEMORY_ONLY)
    ds.count()
    ds
  }

  private def dictionary(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val d = spark.createDataset(Fixtures.entityDictionary()).toDF().persist(StorageLevel.MEMORY_ONLY)
    d.count()
    d
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** (files, bytes) of the data files under `dir` (metadata files excluded). */
  private def dataFiles(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
        .map(f => f.toString -> (Files.getLastModifiedTime(f).toMillis, Files.size(f))).toMap
      finally s.close()
    }
  }

  // ---------------------------------------------------------------- kg_build

  def build(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val off = docOffset(ctx.seed)
    var docs: Dataset[InputDoc] = null
    var dict: DataFrame = null
    val setup = (1 to setupReps(ctx, BuildSetupReps)).map { _ =>
      if (docs != null) { docs.unpersist(true); dict.unpersist(true) }
      timed { docs = corpus(spark, off, BuildDocs, ctx.nproc); dict = dictionary(spark) }._2
    }
    ctx.put("setup_reps_s", setup)
    ctx.put("inputs", Map("docs" -> BuildDocs, "doc_offset" -> off, "dict_rows" -> Fixtures.defaultEntities.size))

    var rep = 0
    def runOnce(): (DataFrame, Double) = {
      rep += 1
      val work = ctx.out.resolve(s"build-$rep")
      deleteTree(ctx.out.resolve(s"build-${rep - 1}"))
      timed(Pipeline.runAll(spark, docs, dict, work.toString, resume = false))
    }
    val (_, cold) = runOnce()
    ctx.put("cold_s", cold)
    val warm = scala.collection.mutable.ArrayBuffer[Double]()
    val until = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var last: DataFrame = null
    // warm reps: at least one, and another only while it would end within
    // --seconds (a traced run needs just one, to compare its spans with)
    while (warm.isEmpty ||
           (!ctx.trace && System.nanoTime() + (warm.last * 1e9).toLong < until)) {
      val (t, s) = runOnce(); warm += s; last = t
    }
    ctx.put("unit_ms", warm.map(_ * 1e3))
    ctx.put("rate", Map("count" -> BuildDocs.toDouble * warm.size, "seconds" -> warm.sum, "unit" -> "docs/s"))

    // output check (outside every timed region): the inDoc and mentions
    // triples against the entities the generator planted in each doc
    val work = ctx.out.resolve(s"build-$rep").toString
    ctx.put("check_build", buildCheck(spark, off, last, work))

    if (ctx.trace) {
      // the traced replay between two untraced warm runs, its reference
      ctx.put("stage_replay", stageReplay(ctx, docs, dict))
      ctx.put("warm_after_ms", runOnce()._2 * 1e3)
      ctx.put("kernel", kernelReplay(off))
    }
  }

  /** P/R of (doc, entity) pairs from inDoc triples and of mention counts
    * per (doc, entity) from mentions triples. Entity ids map to their
    * canonical id through the run's own entities table. */
  private def buildCheck(spark: SparkSession, off: Int, triples: DataFrame, work: String): Map[String, Any] = {
    val canon = TableFormat.load(spark, s"$work/entities").select("entity_id", "canonical_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gold = scala.collection.mutable.HashMap[(String, String), Int]()
    var i = 0
    while (i < BuildDocs) {
      val d = Fixtures.doc(off + i)
      for (s <- d.sentences; e <- s.entityIds) {
        val k = (d.docId, s"ent:${canon.getOrElse(e, e)}")
        gold(k) = gold.getOrElse(k, 0) + 1
      }
      i += 1
    }
    val rows = triples.filter(col("pred").isin("inDoc", "mentions"))
      .groupBy("pred", "doc_id", "subj").count().collect()
    val inDoc = rows.filter(_.getString(0) == "inDoc").map(r => (r.getString(1), r.getString(2))).toSet
    val ment = rows.filter(_.getString(0) == "mentions").map(r => (r.getString(1), r.getString(2)) -> r.getLong(3).toInt).toMap
    val inDocTp = inDoc.count(gold.contains)
    val mentTp = ment.map { case (k, n) => math.min(n, gold.getOrElse(k, 0)) }.sum
    Map("indoc_tp" -> inDocTp, "indoc_pred" -> inDoc.size, "indoc_gold" -> gold.size,
      "mentions_tp" -> mentTp, "mentions_pred" -> ment.values.sum, "mentions_gold" -> gold.values.sum)
  }

  /** `Pipeline.runAll`'s model set-up and five stages in its order, each
    * stage with its `TableFormat.save`, one span each; plus the bytes and
    * files each stage wrote and the wall of the whole replay. */
  private def stageReplay(ctx: Ctx, docs: Dataset[InputDoc], dict: DataFrame): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val p = Pipeline.StagePaths(ctx.dir("traced"))
    val io = scala.collection.mutable.LinkedHashMap[String, Any]()
    def written(stage: String, dir: String): Unit = {
      val f = dataFiles(dir)
      io(stage) = Map("files" -> f.size, "bytes" -> f.values.map(_._2).sum)
    }
    val t0 = System.nanoTime()
    tr.span("pipeline", "run_all", newTrace = true) {
      // runAll's model set-up: build, fingerprint, broadcast
      val models = tr.span("pipeline", "models") {
        val m = Pipeline.fixtureModels()
        m.fingerprint
        spark.sparkContext.broadcast(m)
      }
      tr.span("pipeline", "docs_labeled") {
        TableFormat.save(Pipeline.annotate(spark, docs, models).toDF(), p.docsLabeled, "doc_id", 32, "docs_labeled")
      }
      written("docs_labeled", p.docsLabeled)
      val labeled = TableFormat.load(spark, p.docsLabeled).as[Doc]
      tr.span("pipeline", "mentions") {
        TableFormat.save(Pipeline.extractMentions(labeled, "morph"), p.mentions, "doc_id", 32, "mentions")
      }
      written("mentions", p.mentions)
      val mentions = TableFormat.load(spark, p.mentions)
      tr.span("kg", "link") { TableFormat.save(Linker.link(mentions, dict), p.linked, "doc_id", 32, "linked") }
      written("linked", p.linked)
      val linked = TableFormat.load(spark, p.linked)
      tr.span("kg", "canonicalize") {
        TableFormat.save(Canonicalize.canonicalize(spark, dict), p.entities, "entity_id", 32, "entities")
      }
      written("entities", p.entities)
      val entities = TableFormat.load(spark, p.entities)
      tr.span("kg", "triples") {
        val withCanon = linked.join(
          broadcast(entities.select(col("entity_id"), col("canonical_id"))), Seq("entity_id"), "left")
          .withColumn("canonical_id", coalesce(col("canonical_id"), col("entity_id")))
        TableFormat.save(Triples.fromLinkedMentions(withCanon), p.triples, "doc_id", 32, "triples")
      }
      written("triples", p.triples)
    }
    val wall = secs(t0)
    val counts = Map(
      "mentions" -> TableFormat.load(spark, p.mentions).count(),
      "linked" -> TableFormat.load(spark, p.linked).count(),
      "triples" -> TableFormat.load(spark, p.triples).count())
    deleteTree(Paths.get(p.root))
    Map("wall_s" -> wall, "io" -> io, "rows" -> counts)
  }

  /** Single-thread replay of `Pipeline.annotateDoc`'s call order on a doc
    * sample, timing each NLP layer; then `annotateDoc` itself (memo on).
    * The lattice chain is replayed unmemoized, so its layers show their
    * full cost. The first pass warms the JIT; the second is reported. */
  private def kernelReplay(off: Int): Map[String, Any] = {
    import graft.lattice.{Analyzer, DepParser, Disambig, Prune}
    import graft.ner.Scorer
    import scala.collection.immutable.ArraySeq
    val m = Pipeline.fixtureModels()
    val lex = m.lexPredicate
    val sample = (0 until 300).map { i => val d = Fixtures.doc(off + i); InputDoc(d.docId, d.spans.toArray) }
    val layers = Seq("text.tokenize", "ner.decode_single", "ner.decode_multi", "ner.decode_morph",
      "lattice.analyze", "lattice.prune", "lattice.disambig", "lattice.dep", "align.soft_merge")
    def pass(): Map[String, Double] = {
      val acc = new Array[Long](layers.size)
      def t[T](k: Int)(body: => T): T = { val t0 = System.nanoTime(); val r = body; acc(k) += System.nanoTime() - t0; r }
      for (doc <- sample) {
        val toks = t(0)(doc.spans.filter(_.kind == "text").map(s => graft.text.HebTokenizer.tokenize(s.text)))
        val scored = toks.filter(a => a.length > 0 && a.length < m.maxSentenceLength)
        val batch = ArraySeq.unsafeWrapArray(scored.map(a => ArraySeq.unsafeWrapArray(a): IndexedSeq[String]))
        t(1)(Scorer.decodeBatch(m.single, batch))
        val multi = t(2)(Scorer.decodeBatch(m.multi, batch))
        val forms = scored.indices.map { si =>
          scored(si).indices.map { ti =>
            val label = if (ti < multi(si).length) multi(si)(ti) else "O"
            val lattice = t(4)(Analyzer.sentenceLattice(IndexedSeq(scored(si)(ti)), lex).toIndexedSeq)
            val pruned = t(5)(Prune.pruneSentence(lattice, IndexedSeq(label), nonOOnly = false))
            val md = t(6)(Disambig.disambiguate(pruned, lex))
            if (md.isEmpty) IndexedSeq(scored(si)(ti)) else md.map(_.form)
          }
        }
        t(3)(Scorer.decodeBatch(m.morph, forms.map(_.flatten)))
        forms.foreach { f =>
          t(7)(DepParser.parseHeadsRels(f.flatMap(w => w.indices.map(j => if (j < w.length - 1) "IN" else "NN"))))
        }
        forms.indices.foreach { si =>
          forms(si).indices.foreach { ti =>
            val label = if (ti < multi(si).length) multi(si)(ti) else "O"
            t(8)(graft.align.Align.softMergeLabels(forms(si)(ti).length, label))
          }
        }
      }
      layers.indices.map(k => layers(k) -> acc(k) / 1e3 / sample.size).toMap
    }
    pass()
    val perLayer = pass()
    sample.foreach(d => Pipeline.annotateDoc(m, lex, d))
    val t0 = System.nanoTime()
    sample.foreach(d => Pipeline.annotateDoc(m, lex, d))
    val whole = (System.nanoTime() - t0) / 1e3 / sample.size
    Map("docs" -> sample.size, "us_per_doc" -> perLayer, "annotate_doc_us" -> whole)
  }

  // ------------------------------------------------- kg_serve / kg_serve_update

  /** The read mix: six query shapes, each over PoolEntities entity
    * constants or, for the count shape, over the five predicates, with the
    * share of reads each shape gets. The shares put the median read inside
    * one shape's latency band (two_hop) and p75 inside another (optional),
    * not at the gap between the cheap and the costly shapes, where the
    * percentiles would jump from run to run. Group and path, whose latency
    * varies most from run to run, get the smallest shares. */
  val Shapes = Seq("point", "two_hop", "optional", "group", "count", "path")
  val ShapeShare = Seq(0.2, 0.3, 0.3, 0.05, 0.1, 0.05)
  val Predicates = Seq("inDoc", "mentions", "label", "category", "sameAs")

  private def shapeQuery(shape: String, c: String): String = shape match {
    case "point"    => s"SELECT DISTINCT ?c WHERE { $c category ?c }"
    case "two_hop"  => s"SELECT DISTINCT ?e WHERE { $c inDoc ?d . ?e inDoc ?d }"
    case "optional" => s"SELECT DISTINCT ?e ?al WHERE { $c inDoc ?d . ?e inDoc ?d OPTIONAL { ?e sameAs ?al } }"
    case "group"    => s"SELECT ?e (COUNT(DISTINCT ?d) AS ?n) WHERE { $c inDoc ?d . ?e inDoc ?d } GROUP BY ?e"
    case "count"    => s"SELECT (COUNT(*) AS ?n) WHERE { ?s $c ?o }"
    case "path"     => s"SELECT DISTINCT ?e WHERE { $c inDoc/^inDoc ?e }"
  }

  /** `n` reads split over the shapes by ShapeShare, largest remainders
    * first, so the counts add up to exactly `n`. */
  private def shareOf(n: Int): Seq[Int] = {
    val exact = ShapeShare.map(_ * n)
    val base = exact.map(math.floor(_).toInt)
    val extra = exact.indices.sortBy(i => -(exact(i) - base(i))).take(n - base.sum).toSet
    base.indices.map(i => base(i) + (if (extra(i)) 1 else 0))
  }

  /** `k` ranks spread over a Zipf distribution of `n` ranks (the corpus
    * generator's exponent) by stratified quantiles, hottest first. */
  private def zipfRanks(n: Int, k: Int): Seq[Int] = {
    val cum = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, 1.1)).scanLeft(0.0)(_ + _).tail
    (0 until k).map(j => cum.indexWhere(_ >= (j + 0.5) / k * cum.last))
  }

  /** The triples `Triples.fromLinkedMentions` makes from the corpus'
    * planted mentions, generated directly: (subj, pred, obj, doc_id) with
    * subj the entity's canonical URI. Entities sharing a dictionary alias
    * get the smallest id of the group as canonical id, as canonicalization
    * does. The store is generated rather than built by Pipeline.runAll,
    * which kg_build measures, so that a serving run stays short. */
  private def goldTriples(off: Int, n: Int): (Seq[(String, String, String, String)], Map[Long, Long]) = {
    val dict = Fixtures.entityDictionary()
    val byAlias = dict.flatMap(e => e.aliases.map(_ -> e.entity_id)).groupBy(_._1)
    val canon = dict.map { e =>
      e.entity_id -> e.aliases.map(a => byAlias(a).map(_._2).min).min
    }.toMap
    val ents = Fixtures.defaultEntities.map(e => e.entityId -> e).toMap
    val rows = scala.collection.mutable.ArrayBuffer[(String, String, String, String)]()
    for (i <- off until off + n) {
      val d = Fixtures.doc(i)
      val distinct = scala.collection.mutable.LinkedHashSet[(String, String, String, String)]()
      for (sn <- d.sentences; e <- sn.entityIds) {
        val subj = s"ent:${canon(e)}"
        rows += ((subj, "mentions", ents(e).surface, d.docId))
        distinct += ((subj, "inDoc", d.docId, d.docId))
        distinct += ((subj, "label", ents(e).surface, d.docId))
        distinct += ((subj, "category", ents(e).category, d.docId))
        if (canon(e) != e) distinct += ((subj, "sameAs", s"ent:$e", d.docId))
      }
      rows ++= distinct
    }
    (rows.toSeq, canon)
  }

  def serveUpdate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val off = docOffset(ctx.seed)
    var server: com.sun.net.httpserver.HttpServer = null
    var store = ""
    var canon = Map.empty[Long, Long]
    val tr = ctx.tracer
    val ioRec = scala.collection.mutable.LinkedHashMap[String, Any]()
    // set-up: the store's triples, written predicate-partitioned, and the
    // listener over them; repeated so setup_s is a median, the last store
    // is served
    val setup = (1 to setupReps(ctx, ServeSetupReps)).map { rep =>
      if (server != null) KgHttp.stop(server)
      store = ctx.dir(s"store-$rep")
      timed {
        tr.span("setup", "store_build", newTrace = true) {
          val (rows, c) = goldTriples(off, ServeDocs)
          canon = c
          val triples = rows.toDF("subj", "pred", "obj", "doc_id")
          val (_, saveS) = timed {
            tr.span("io", "save_partitioned") {
              TableFormat.savePartitioned(triples, store, "pred", "subj",
                TableFormat.adaptiveBuckets(rows.size.toLong), stage = "triples")
            }
          }
          val (_, loadS) = timed { server = tr.span("serve", "start") { KgHttp.startFromStore(0, spark, store) } }
          val f = dataFiles(store)
          ioRec ++= Map("store_rows" -> rows.size, "store_save_s" -> saveS, "store_load_ms" -> loadS * 1e3,
            "store_files" -> f.size, "store_bytes" -> f.values.map(_._2).sum)
        }
      }._2
    }
    ctx.put("setup_reps_s", setup)
    val readers = math.max(1, ctx.nproc - 1)
    val load = new Load(server.getAddress.getPort, readers)

    // the query pool: entities at fixed popularity ranks of the generator
    // (hottest first, one per canonical id), the same for every seed
    val poolEnts = Seq(0, 1, 2, 4, 8, 16, 32, 64, 128, 256)
      .map(r => s"ent:${canon(Fixtures.defaultEntities(r).entityId)}").distinct.take(PoolEntities)
    val pool = Shapes.flatMap { sh =>
      val consts = if (sh == "count") Predicates else poolEnts
      consts.map(c => (sh, c, shapeQuery(sh, c)))
    }.toIndexedSeq
    val queries = pool.map(_._3)
    // request mix: each shape its share, and within a shape its constants
    // in Zipf proportion; the seed only orders the requests
    val byShape = Shapes.map(sh => pool.indices.filter(pool(_)._1 == sh))
    val mix = new scala.util.Random(ctx.seed)
    def requests(n: Int): IndexedSeq[Int] = mix.shuffle(byShape.zip(shareOf(n)).flatMap {
      case (ids, k) => zipfRanks(ids.size, k).map(ids(_))
    }.toIndexedSeq)
    ctx.put("inputs", Map("docs" -> ServeDocs, "doc_offset" -> off, "store_rows" -> ioRec("store_rows"),
      "pool" -> pool.size, "round_reads" -> RoundReads, "warmup_rounds" -> WarmupRounds,
      "warmup_reads" -> WarmupReads, "warmup_readers" -> readers))
    ctx.put("pool", pool.map { case (sh, c, q) => Map("shape" -> sh, "const" -> c, "query" -> q) })

    // check input: the served state A, exported outside set-up
    TableFormat.load(spark, store).select("subj", "pred", "obj").write.parquet(ctx.dir("state_a"))

    // the update batch: links the two hottest entities of the pool to a new
    // doc shared with a new entity, all in inDoc, which every join shape
    // scans; the store flips between state A (batch absent) and B (present)
    val newDoc = s"doc-upd-${ctx.seed}"
    val batch = Seq((poolEnts.head, "inDoc", newDoc), (poolEnts(1), "inDoc", newDoc),
      (s"ent:${900000000L + java.lang.Math.floorMod(ctx.seed, 1000000L)}", "inDoc", newDoc))
    val batchText = batch.map { case (s, p, o) => s"$s $p $o" }.mkString(" . ")
    val insert = s"INSERT DATA { $batchText }"
    val delete = s"DELETE DATA { $batchText }"
    ctx.put("batch", batch.map { case (s, p, o) => Seq(s, p, o) })

    val updates = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    def postUpdate(text: String, phase: String): Double = {
      val t0 = System.nanoTime()
      val (status, body) = load.post("/kg/update", s"""{"update": ${Load.jstr(text)}}""")
      val ms = (System.nanoTime() - t0) / 1e6
      updates.add(Map("phase" -> phase, "kind" -> (if (text.startsWith("INSERT")) "insert" else "delete"),
        "start_ns" -> t0, "ms" -> ms, "status" -> status, "body" -> body))
      ms
    }
    // cold: the first two updates in this JVM (insert, then delete, so
    // the store is back in state A)
    ctx.put("cold_s", (postUpdate(insert, "cold") + postUpdate(delete, "cold")) / 1e3)
    var stateB = false

    // rounds: the writer posts the insert or the delete in turn, then, once
    // it has answered, `reads` reads go out closed loop on `clients`
    // clients; the next update waits until every read has answered. Reads
    // and writes do not overlap: at the base commit a read racing an
    // update's commit can answer 500 (perfbench/README.md), which would make
    // the failure count a matter of timing. Each read must see the state its
    // round's update committed. An even number of rounds leaves the store in
    // state A.
    def rounds(phase: String, n: Int, reads: Int, clients: Int): Seq[(Obs, String)] =
      requests(n * reads).grouped(reads).toSeq.flatMap { qids =>
        postUpdate(if (stateB) delete else insert, phase)
        stateB = !stateB
        val state = if (stateB) "B" else "A"
        load.closedLoop(phase, qids, queries, clients).map(_ -> state)
      }
    // The warm-up runs the read and update paths often enough for the JIT
    // before the measured rounds; it is checked but not timed. Measured
    // reads go one at a time, so a read's latency is its own service time,
    // not a function of which reads the seed's order puts beside it. A
    // traced run reports no end-to-end numbers: no measured rounds, but the
    // in-process replay of the reads.
    val measuredRounds = if (ctx.trace) 0 else 2 * math.max(1, (ctx.seconds / RoundS / 2).toInt)
    val obs = try {
      val o = rounds("warmup", WarmupRounds, WarmupReads, readers) ++
        rounds("measured", measuredRounds, RoundReads, 1)
      if (ctx.trace) ctx.put("queries_traced", queryReplay(ctx, load, store, pool))
      o
    } finally load.close()
    ctx.put("requests", obs.map { case (o, state) => Map("phase" -> o.phase, "qid" -> o.qid,
      "state" -> state, "start_ns" -> o.startNs, "end_ns" -> o.endNs, "ms" -> o.latencyMs,
      "status" -> o.status, "body" -> o.body) })
    ctx.put("updates", updates.asScala.toSeq)

    if (ctx.trace) ctx.put("updates_traced", updateReplay(ctx, store, insert, delete, batch))
    KgHttp.stop(server)
    if (ctx.trace) {
      ctx.put("spark", ctx.counters.total.toMap)
      analytics(ctx)
    }
    ctx.put("bodies", load.bodies.asScala.toMap)
    ctx.put("io", ioRec)
    ctx.put("store_files_end", dataFiles(store).size)
  }

  /** In-process replay of each pool query as `KgHttp` runs it — parse and
    * build, plan, then take a page — untraced and then traced, plus the same
    * query over HTTP with one client, for the HTTP overhead per shape. */
  private def queryReplay(ctx: Ctx, load: Load, store: String,
                          pool: IndexedSeq[(String, String, String)]): Seq[Map[String, Any]] = {
    val spark = ctx.spark
    spark.catalog.refreshByPath(store)
    val frame = TableFormat.load(spark, store)
    val stats = Some(Pattern.predStatsFromManifest(store))
    val tr = ctx.tracer
    def run(q: String, traced: Boolean): (Double, Int, Int) = {
      val t0 = System.nanoTime()
      def sp[T](layer: String, name: String)(b: => T): T = if (traced) tr.span(layer, name)(b) else b
      val (rows, exch) = sp("serve", "query") {
        val df = sp("kg", "sparql_build") { Sparql.query(frame, q, stats) }
        val plan = sp("spark", "plan") { df.queryExecution.executedPlan }
        val rows = sp("spark", "exec") { plan.executeTake(MaxRows + 1).length }
        (rows, PlanFacts.shuffleExchanges(df.queryExecution.executedPlan))
      }
      ((System.nanoTime() - t0) / 1e6, rows, exch)
    }
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    // the first constant of each shape (the hottest entity); the three
    // ways interleaved, three times, medians
    Shapes.map(sh => pool.find(_._1 == sh).get).map { case (sh, c, q) =>
      val reps = (1 to 3).map { _ =>
        val (untraced, rows, exch) = run(q, traced = false)
        val (traced, _, _) = tr.span("serve", "request", newTrace = true)(run(q, traced = true))
        val t0 = System.nanoTime()
        load.query(q)
        (untraced, traced, (System.nanoTime() - t0) / 1e6, rows, exch)
      }
      Map("shape" -> sh, "const" -> c, "untraced_ms" -> median(reps.map(_._1)),
        "traced_ms" -> median(reps.map(_._2)), "http_ms" -> median(reps.map(_._3)),
        "rows" -> reps.head._4, "exchanges" -> reps.head._5)
    }
  }

  /** Traced in-process replay of the writer's two updates and the reload
    * `KgHttp` does after each; with the bytes each update wrote. */
  private def updateReplay(ctx: Ctx, store: String, insert: String, delete: String,
                           batch: Seq[(String, String, String)]): Seq[Map[String, Any]] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val tripleBytes = batch.map { case (s, p, o) => (s + p + o).getBytes("UTF-8").length }.sum
    (1 to 2).flatMap(_ => Seq(insert, delete)).map { text =>
      val before = dataFiles(store)
      val t0 = System.nanoTime()
      val reports = tr.span("kg", "update_request", newTrace = true) {
        val r = tr.span("kg", "update") { Sparql.update(spark, store, text) }
        tr.span("io", "load") { TableFormat.load(spark, store) }
        tr.span("kg", "pred_stats") { Pattern.predStatsFromManifest(store) }
        r
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val after = dataFiles(store)
      val written = after.filter { case (f, v) => !before.get(f).contains(v) }.values.map(_._2).sum
      Map("kind" -> (if (text.startsWith("INSERT")) "insert" else "delete"), "ms" -> ms,
        "bytes_written" -> written, "triple_bytes" -> tripleBytes,
        "touched_leaves" -> reports.map(_.touchedLeaves).sum)
    }
  }

  // --------------------------------------------------------------- analytics

  /** The five analytics queries over the vendored sf0.01 tables, in a
    * seeded order: a first (cold) pass, then a warm pass, one span per
    * query. Each query's action writes its result, which the oracle check
    * reads after the run. Part of the traced kg_serve_update run, which
    * has the shortest untraced part. */
  private def analytics(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.data.toString
    val order = new scala.util.Random(ctx.seed).shuffle(Analytics)
    def pass(name: String): Seq[Map[String, Any]] = order.map { q =>
      val t0 = System.nanoTime()
      val df = ctx.tracer.span("analytics", q, newTrace = true) {
        val df = graft.SparkEntry.queries(q)(spark, dir)
        df.write.mode("overwrite").parquet(ctx.dir(s"results/$q"))
        df
      }
      Map("query" -> q, "pass" -> name, "s" -> secs(t0),
        "exchanges" -> PlanFacts.shuffleExchanges(df.queryExecution.executedPlan))
    }
    ctx.put("analytics", pass("cold") ++ pass("warm"))
    val aux = ctx.dir("aux")
    graft.SparkEntry.auxTables("minhash_coefs")(spark, dir).write.parquet(s"$aux/minhash_coefs")
    ctx.put("oracle_sql", order.map(q => q -> graft.SparkEntry.oracleSql(q).replace("{{AUX}}", aux)).toMap)
  }
}

/** Facts read off a physical plan, including the stages adaptive execution
  * re-planned. */
object PlanFacts extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

  def shuffleExchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
}
