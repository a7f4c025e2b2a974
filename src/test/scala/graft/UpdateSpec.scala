package graft

import graft.io.TableFormat
import graft.kg.{Pattern, Sparql, Update}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** SPARQL 1.1 Update over the pred-partitioned triple store: every op form,
  * the partition-scoped rewrite guarantees (untouched leaf files untouched,
  * emptied leaves removed), the merged lineage manifest, and the update-id
  * resume stamp. */
class UpdateSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Buckets = 4

  private def baseTriples: DataFrame = Seq(
    ("ent:1", "category", "PER", 10L),
    ("ent:2", "category", "ORG", 10L),
    ("ent:3", "category", "PER", 11L),
    ("ent:1", "inDoc", "d1", 10L),
    ("ent:2", "inDoc", "d1", 10L),
    ("ent:3", "inDoc", "d2", 11L),
    ("ent:1", "label", "alpha", 10L),
    ("ent:1", "label", "alpha", 11L), // duplicate (s,p,o), distinct provenance
    ("ent:4", "sameAs", "ent:1", 10L)
  ).toDF("subj", "pred", "obj", "doc_id")

  private def freshStore(): String = {
    val dir = Files.createTempDirectory("graft-updspec").toString + "/store"
    TableFormat.savePartitioned(baseTriples, dir, partCol = "pred",
      keyCol = "subj", buckets = Buckets, stage = "triples")
    dir
  }

  private def readTriples(store: String): Set[(String, String, String)] =
    TableFormat.load(spark, store).select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet

  private def manifestCountsMatchScan(store: String): Unit = {
    // lineage integrity: merged manifest counts == a fresh recount by scan
    val scanned = Pattern.predStats(TableFormat.load(spark, store))
    val manifest = Pattern.predStatsFromManifest(store)
    assert(manifest === scanned)
  }

  private def leafFileStamps(store: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(store)
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap
    finally walk.close()
  }

  test("INSERT DATA adds novel triples; NULL passengers; new pred directory; manifest grows") {
    val store = freshStore()
    val before = readTriples(store)
    Sparql.update(spark, store,
      "INSERT DATA { ent:9 category LOC . ent:9 locatedIn ent:1 }")
    val after = readTriples(store)
    assert(after === before + (("ent:9", "category", "LOC")) + (("ent:9", "locatedIn", "ent:1")))
    // new predicate directory exists; passengers of inserted rows are NULL
    assert(Files.exists(Paths.get(store, "pred=locatedIn")))
    val ins = TableFormat.load(spark, store)
      .filter(col("subj") === "ent:9" && col("pred") === "category")
    assert(ins.select("doc_id").as[java.lang.Long].collect().toSeq === Seq(null))
    manifestCountsMatchScan(store)
  }

  test("re-INSERT of an existing (s,p,o) is a no-op — no duplicate row, provenance kept") {
    val store = freshStore()
    val nBefore = TableFormat.load(spark, store).count()
    val r = Sparql.update(spark, store, "INSERT DATA { ent:1 label alpha }").head
    assert(TableFormat.load(spark, store).count() === nBefore)
    // both provenance rows for the duplicate (s,p,o) survive, none nulled
    val provs = TableFormat.load(spark, store)
      .filter(col("subj") === "ent:1" && col("pred") === "label")
      .select("doc_id").as[java.lang.Long].collect().toSeq
    assert(provs.sortBy(x => Option(x).map(_.toLong).getOrElse(-1L)) === Seq(10L, 11L))
    assert(r.rowsBefore === r.rowsAfter)
    manifestCountsMatchScan(store)
  }

  test("DELETE DATA removes every provenance row of the triple; only touched leaves rewritten") {
    val store = freshStore()
    val stamps = leafFileStamps(store)
    val r = Sparql.update(spark, store, "DELETE DATA { ent:1 label alpha }").head
    val after = readTriples(store)
    assert(!after(("ent:1", "label", "alpha")))
    assert(r.rowsBefore - r.rowsAfter === 2) // both provenance rows went
    // untouched leaves: identical files, identical mtimes (never rewritten)
    val stampsAfter = leafFileStamps(store)
    val touchedPrefix = s"pred=label/part_bucket=${TableFormat.bucketOf(spark, "ent:1", Buckets)}"
    val untouched = stamps.filterNot(_._1.startsWith(touchedPrefix))
    assert(untouched.forall { case (f, t) => stampsAfter.get(f).contains(t) })
    assert(untouched.nonEmpty)
    manifestCountsMatchScan(store)
  }

  test("DELETE DATA that empties a leaf removes its directory (and an emptied pred dir)") {
    val store = freshStore()
    // sameAs has exactly one row; deleting it must empty the predicate family
    Sparql.update(spark, store, "DELETE DATA { ent:4 sameAs ent:1 }")
    assert(!readTriples(store)(("ent:4", "sameAs", "ent:1")))
    assert(!Files.exists(Paths.get(store, "pred=sameAs")))
    assert(Pattern.predStatsFromManifest(store).get("sameAs").isEmpty)
    manifestCountsMatchScan(store)
  }

  test("DELETE WHERE instantiates the pattern as its own template") {
    val store = freshStore()
    Sparql.update(spark, store, "DELETE WHERE { ?e category PER . ?e inDoc ?d }")
    val after = readTriples(store)
    // ent:1 and ent:3 are PER with docs → their inDoc rows are gone; the
    // category rows stay (the template deletes only matched pattern triples
    // — both tps mention ?e so both instantiate; check exact set)
    assert(!after(("ent:1", "inDoc", "d1")) && !after(("ent:3", "inDoc", "d2")))
    assert(!after(("ent:1", "category", "PER")) && !after(("ent:3", "category", "PER")))
    assert(after(("ent:2", "category", "ORG")) && after(("ent:2", "inDoc", "d1")))
    manifestCountsMatchScan(store)
  }

  test("modify form: predicate rename via DELETE/INSERT templates; insert wins on overlap") {
    val store = freshStore()
    Sparql.update(spark, store,
      "DELETE { ?s label ?o } INSERT { ?s name ?o } WHERE { ?s label ?o }")
    val after = readTriples(store)
    assert(!after.exists(_._2 == "label"))
    assert(after(("ent:1", "name", "alpha")))
    // a triple deleted and re-inserted by the SAME op survives
    val store2 = freshStore()
    Sparql.update(spark, store2,
      "DELETE { ?s label ?o } INSERT { ?s label ?o } WHERE { ?s label ?o }")
    assert(readTriples(store2)(("ent:1", "label", "alpha")))
    manifestCountsMatchScan(store)
  }

  test("INSERT WHERE derives new triples; FILTER participates; sequential ops see prior effects") {
    val store = freshStore()
    Sparql.update(spark, store,
      """INSERT { ?a coDoc ?b } WHERE { ?a inDoc ?d . ?b inDoc ?d . FILTER ( ?b != ?a ) } ;
        |DELETE WHERE { ?x coDoc ent:2 }""".stripMargin)
    val after = readTriples(store)
    // op1 derived both directions for d1; op2 (running AFTER op1's commit)
    // removed the ent:2-object one
    assert(after(("ent:2", "coDoc", "ent:1")))
    assert(!after(("ent:1", "coDoc", "ent:2")))
    manifestCountsMatchScan(store)
  }

  test("update-id resume: a committed script replays as all-skips; state unchanged") {
    val store = freshStore()
    val script =
      "INSERT DATA { ent:9 category LOC } ; DELETE DATA { ent:4 sameAs ent:1 }"
    val first = Sparql.update(spark, store, script, updateId = Some("upd-1"))
    assert(first.forall(!_.skipped))
    val snap = readTriples(store)
    val again = Sparql.update(spark, store, script, updateId = Some("upd-1"))
    assert(again.forall(_.skipped))
    assert(readTriples(store) === snap)
    // a DIFFERENT id runs (and set semantics make it a no-op on the data)
    val other = Sparql.update(spark, store, script, updateId = Some("upd-2"))
    assert(other.forall(!_.skipped))
    assert(readTriples(store) === snap)
    manifestCountsMatchScan(store)
  }

  test("update-id with quotes, backslashes and control chars: manifest stays valid JSON; replay skips") {
    val store = freshStore()
    val id = "a\"b\\c\nd\te\u0001"
    val script =
      "INSERT DATA { ent:9 category LOC } ; DELETE DATA { ent:4 sameAs ent:1 }"
    assert(Sparql.update(spark, store, script, updateId = Some(id)).forall(!_.skipped))
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(store, "_manifest.json").toFile)
    assert(manifest.get("update_id").asText === id)
    assert(TableFormat.readManifest(store).fields("update_id") === id)
    val snap = readTriples(store)
    assert(Sparql.update(spark, store, script, updateId = Some(id)).forall(_.skipped))
    assert(readTriples(store) === snap)
  }

  test("parser guards: variables in DATA, unbound template var, non-plain DELETE WHERE, bad head") {
    val store = freshStore()
    assert(intercept[IllegalArgumentException] {
      Sparql.update(spark, store, "INSERT DATA { ?s category LOC }")
    }.getMessage.contains("ground"))
    assert(intercept[IllegalArgumentException] {
      Sparql.update(spark, store, "INSERT { ?s knows ?z } WHERE { ?s category PER }")
    }.getMessage.contains("not bound"))
    assert(intercept[IllegalArgumentException] {
      Sparql.update(spark, store, "DELETE WHERE { ?s category PER OPTIONAL { ?s inDoc ?d } }")
    }.getMessage.contains("plain"))
    // the pattern IS the template, so nothing may scope or extend it: a
    // GRAPH-scoped match with a bare-triple template would delete across
    // ALL provenances; subqueries/BINDs bind vars the template cannot name
    assert(intercept[IllegalArgumentException] {
      Sparql.update(spark, store, "DELETE WHERE { GRAPH ?g { ?s category ?c } }")
    }.getMessage.contains("plain"))
    assert(intercept[IllegalArgumentException] {
      Sparql.update(spark, store,
        "DELETE WHERE { ?s category ?c . { SELECT ?s ( COUNT ( * ) AS ?n ) WHERE { ?s inDoc ?d } GROUP BY ?s } }")
    }.getMessage.contains("plain"))
    assert(intercept[IllegalArgumentException] {
      Sparql.update(spark, store, "DELETE WHERE { ?s category ?c . BIND ( ?c AS ?k ) }")
    }.getMessage.contains("plain"))
    assert(intercept[IllegalArgumentException] {
      Sparql.update(spark, store, "SELECT ?s WHERE { ?s category PER }")
    }.getMessage.contains("INSERT or DELETE"))
  }

  test("applyDelta refuses a non-triple-store layout") {
    val dir = Files.createTempDirectory("graft-updspec").toString + "/flat"
    TableFormat.save(Seq(("a", 1L)).toDF("k", "v"), dir, keyCol = "k")
    assert(intercept[IllegalArgumentException] {
      Update.applyDelta(spark, dir,
        Seq(("s", "p", "o")).toDF("subj", "pred", "obj"),
        Seq.empty[(String, String, String)].toDF("subj", "pred", "obj"))
    }.getMessage.contains("triple store"))
  }

  test("adaptiveBuckets derives the leaf count from the data, never a constant") {
    assert(TableFormat.adaptiveBuckets(0L) === 1)
    assert(TableFormat.adaptiveBuckets(2000L) === 1) // fixture-sized: one file per pred
    assert(TableFormat.adaptiveBuckets(4000000L) === 1)
    assert(TableFormat.adaptiveBuckets(4000001L) === 2)
    assert(TableFormat.adaptiveBuckets(40000000L) === 10)
    assert(TableFormat.adaptiveBuckets(Long.MaxValue) === 1024) // clamp
    // a store written with the adaptive count round-trips through the
    // update path (the manifest carries the modulus, applyDelta reads it)
    val dir = Files.createTempDirectory("graft-adapt").toString + "/t"
    val t = Seq(("a", "p", "x"), ("b", "p", "y")).toDF("subj", "pred", "obj")
    TableFormat.savePartitioned(t, dir, partCol = "pred", keyCol = "subj",
      buckets = TableFormat.adaptiveBuckets(2L), stage = "triples")
    val r = Update.applyDelta(spark, dir,
      delete = Seq(("a", "p", "x")).toDF("subj", "pred", "obj"),
      insert = Seq(("c", "p", "z")).toDF("subj", "pred", "obj"))
    assert(r.writtenLeaves === 1) // single adaptive bucket
    assert(TableFormat.load(spark, dir).select("subj", "obj")
      .as[(String, String)].collect().toSet === Set(("b", "y"), ("c", "z")))
  }
}
