package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.index.Ann

/** Edge cases mirrored from the reference's test/sql/edge_cases.test:
 *  dim=1, duplicate vectors, k > N, empty input, bad names. */
class EdgeCasesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", s"/tmp/graft-edge-indexes-${System.nanoTime()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("dim=1 vectors index and search correctly") {
    import spark.implicits._
    val df = (0L until 20L).map(i => (i, Array(i.toFloat))).toDF("id", "v")
    for (engine <- Seq("diskann", "hnsw", "flat")) {
      Ann.buildIndex(df, "v", "id", s"e1_$engine",
        Ann.BuildParams(engine = engine, numShards = 1))
      val hits = Ann.search(df, "id", s"e1_$engine", Array(7.2f), 3,
        searchComplexity = 32).collect().map(_.getLong(0))
      assert(hits.head == 7L, s"$engine: nearest to 7.2 is 7, got ${hits.toSeq}")
    }
  }

  test("duplicate vectors all retrievable; ties broken by id") {
    import spark.implicits._
    val v = Array(1f, 2f, 3f)
    val df = Seq((1L, v), (2L, v), (3L, v), (4L, Array(9f, 9f, 9f)))
      .toDF("id", "v")
    Ann.buildIndex(df, "v", "id", "e_dup", Ann.BuildParams(engine = "flat"))
    val hits = Ann.search(df, "id", "e_dup", v, 3).collect().map(_.getLong(0))
    assert(hits.toSeq == Seq(1L, 2L, 3L))
  }

  test("k > N returns all N rows") {
    import spark.implicits._
    val df = (0L until 5L).map(i => (i, Array(i.toFloat, 0f))).toDF("id", "v")
    for (engine <- Seq("diskann", "flat")) {
      Ann.buildIndex(df, "v", "id", s"e_small_$engine",
        Ann.BuildParams(engine = engine, numShards = 1))
      val n = Ann.search(df, "id", s"e_small_$engine", Array(0f, 0f), 100,
        searchComplexity = 16).count()
      assert(n == 5, s"$engine returned $n")
    }
  }

  test("empty input build fails with a clear error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Ann.buildIndex(empty, "v", "id", "e_empty", Ann.BuildParams(engine = "diskann"))
    }
    assert(e.getMessage.contains("empty"))
  }

  test("searchBatch with empty query list returns empty result with schema") {
    import spark.implicits._
    val df = (0L until 5L).map(i => (i, Array(i.toFloat))).toDF("id", "v")
    Ann.buildIndex(df, "v", "id", "e_b0", Ann.BuildParams(engine = "flat"))
    val res = Ann.searchBatch(df, "id", "e_b0", Seq.empty, 3)
    assert(res.count() == 0)
    assert(res.columns.contains("query_idx") && res.columns.contains("_distance"))
  }

  test("index_factory strings parse to the right engines") {
    import spark.implicits._
    import Engine.Codes._
    // every grammar form of parseFactory's scaladoc → the engine string
    // metadata.json persists and that engine's capabilities:
    // (factory, engine, graph, coarse, codes, metric-space distances)
    val accepted = Seq(
      ("Flat", "flat", false, false, Raw, true),
      ("HNSW", "hnsw", true, false, Raw, true),
      ("HNSW16", "hnsw", true, false, Raw, true),
      ("IVF256", "ivfflat", false, true, Raw, true),
      ("IVF256,Flat", "ivfflat", false, true, Raw, true),
      ("IVF64,PQ8", "ivfpq", false, true, Pq, true),
      ("IVF64_HNSW16", "ivfflat", false, true, Raw, true),
      ("IVF64_HNSW,Flat", "ivfflat", false, true, Raw, true),
      ("IVF64_HNSW16,PQ8", "ivfpq", false, true, Pq, true),
      ("DiskANN", "diskann", true, false, Raw, true),
      ("DiskANN32", "diskann", true, false, Raw, true),
      ("PQ8", "pq", false, false, Pq, true),
      ("OPQ8,PQ8", "pq", false, false, Pq, true),
      ("OPQ8,IVF64,PQ8", "ivfpq", false, true, Pq, true),
      ("OPQ8,IVF64_HNSW16,PQ8", "ivfpq", false, true, Pq, true),
      ("OPQ8,IMI2x4,PQ8", "ivfpq", false, true, Pq, true),
      ("IMI2x4", "ivfflat", false, true, Raw, true),
      ("IMI2x4,Flat", "ivfflat", false, true, Raw, true),
      ("IMI2x4,PQ8", "ivfpq", false, true, Pq, true),
      ("PCA16,Flat", "flat", false, false, Raw, true),
      ("PCAR16,Flat", "flat", false, false, Raw, true),
      ("PCAW16,IVF64", "ivfflat", false, true, Raw, true),
      ("PCA16,IVF64,Flat", "ivfflat", false, true, Raw, true),
      ("PCA16,IVF64,PQ8", "ivfpq", false, true, Pq, true),
      ("LSH", "lsh", false, false, Lsh, false),
      ("LSH16", "lsh", false, false, Lsh, false),
      ("LSH16r", "lsh", false, false, Lsh, false),
      ("LSH16t", "lsh", false, false, Lsh, false),
      ("LSH16rt", "lsh", false, false, Lsh, false),
      ("DiskANN32,SQ8", "diskann", true, false, Raw, true),
      ("DiskANN,SQ4", "diskann", true, false, Raw, true),
      ("DiskANN,SQ6", "diskann", true, false, Raw, true),
      ("IVF64,SQ8", "ivfsq", false, true, Sq, true),
      ("IVF64,SQ4", "ivfsq", false, true, Sq, true),
      ("IVF64_HNSW16,SQ6", "ivfsq", false, true, Sq, true),
      ("PQ8,RFlat", "pq", false, false, Pq, true),
      ("IVF64,PQ8,RFlat", "ivfpq", false, true, Pq, true),
      ("LSH32,RFlat", "lsh", false, false, Lsh, false),
      ("IVF64,SQ8,RFlat", "ivfsq", false, true, Sq, true))
    for ((desc, engine, graph, coarse, codes, metricDistances) <- accepted) {
      val p = Ann.parseFactory(desc)
      assert(p.engine == engine, s"'$desc' parsed to ${p.engine}")
      val e = Engine(p.engine)
      assert((e.graph, e.coarse, e.codes, e.metricDistances) ==
        (graph, coarse, codes, metricDistances), s"'$desc' capabilities of $e")
      assert(e.reconstructs == metricDistances, s"'$desc' reconstructs")
    }
    assert(Engine.all.map(_.name).toSet == accepted.map(_._2).toSet)
    assert(Engine.all.forall(e => Engine(e.name) eq e))
    assert(Ann.parseFactory("IVF256,Flat") ==
      Ann.BuildParams(engine = "ivfflat", nlist = 256))
    assert(Ann.parseFactory("HNSW16").hnswM == 16)
    val d = Ann.parseFactory("DiskANN32,SQ8")
    assert(d.maxDegree == 32 && d.quantization == "sq8")
    for (bad <- Seq("PQ8,IVF4", "HNSW16,SQ8", "Flat,SQ8", "Flat,RFlat",
        "IVF64,Flat,RFlat", "IVF64,RFlat", "DiskANN,RFlat", "PCA16,HNSW32",
        "IVF64_HNSW1", "IMI2x4,SQ8", "PCA16,IVF64,SQ8"))
      intercept[IllegalArgumentException](Ann.parseFactory(bad))
    // end-to-end through the factory entry point
    val df = (0L until 30L).map(i => (i, Array(i.toFloat, (i % 7).toFloat))).toDF("id", "v")
    Ann.buildIndexFactory(df, "v", "id", "e_factory", "IVF4,Flat")
    assert(Ann.search(df, "id", "e_factory", Array(5f, 5f), 3).count() == 3)
  }

  test("an unknown engine in metadata.json fails the by-name load, naming index and engine") {
    import spark.implicits._
    val df = (0L until 10L).map(i => (i, Array(i.toFloat))).toDF("id", "v")
    Ann.buildIndex(df, "v", "id", "e_engine", Ann.BuildParams(engine = "flat"))
    val r = Ann.root(spark)
    val f = java.nio.file.Paths.get(IndexCatalog.indexDir(r, "e_engine"), "metadata.json")
    val json = java.nio.file.Files.readString(f)
    assert(json.contains("\"flat\""))
    java.nio.file.Files.writeString(f, json.replace("\"flat\"", "\"bogus\""))
    try {
      val e = intercept[IllegalArgumentException](IndexCatalog.load(r, "e_engine"))
      assert(e.getMessage.contains("e_engine") && e.getMessage.contains("bogus"),
        e.getMessage)
      intercept[IllegalArgumentException](Ann.search(df, "id", "e_engine", Array(1f), 3))
    } finally IndexCatalog.drop(r, "e_engine")
  }

  test("ivfflat probe scan prunes parquet partitions to the probed clusters") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, Array((i % 10).toFloat, (i / 10).toFloat)))
      .toDF("id", "v")
    Ann.buildIndex(df, "v", "id", "e_ivf_prune",
      Ann.BuildParams(engine = "ivfflat", nlist = 5, nprobe = 2))
    val scan = Ann.indexScan(spark, "e_ivf_prune", Array(1f, 1f), 5)
    val p = scan.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cluster"),
      s"expected cluster partition filters:\n$p")
  }
}
