package graft.index

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{toFloatVec, floatVec, array_distance}

/** Restart tests (reference test/sql/diskann_persist.test,
 *  faiss_bind_after_restart.test): index written by one session is fully
 *  usable from a fresh session (and fresh shard cache) via the on-disk
 *  catalog alone. */
class PersistenceSpec extends AnyFunSuite {
  private val root = s"/tmp/graft-persist-${System.nanoTime()}"

  private def newSession(): SparkSession = {
    // fully restart the JVM-local session so nothing carries over but disk
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", root)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def emb(s: SparkSession): DataFrame =
    s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private val q: Array[Float] = (0 until 64).map(i => (i % 8) / 8.0f).toArray

  test("diskann + sq8 + hnsw + flat indexes survive a session restart") {
    val s1 = newSession()
    val df1 = emb(s1)
    Ann.buildIndex(df1, "embedding", "vec_id", "p_diskann",
      Ann.BuildParams(engine = "diskann", numShards = 2))
    Ann.buildIndex(df1, "embedding", "vec_id", "p_sq8",
      Ann.BuildParams(engine = "diskann", numShards = 1, quantization = "sq8"))
    Ann.buildIndex(df1, "embedding", "vec_id", "p_hnsw",
      Ann.BuildParams(engine = "hnsw", numShards = 2))
    Ann.buildIndex(df1, "embedding", "vec_id", "p_flat",
      Ann.BuildParams(engine = "flat"))
    Ann.delete(s1, "p_diskann", Seq(5L, 6L))
    val before = Ann.search(df1, "vec_id", "p_diskann", q, 10, searchComplexity = 128)
      .collect().map(_.getLong(0)).toSeq

    // restart: new session, cold shard cache
    val s2 = newSession()
    ShardCache.invalidate()
    val df2 = emb(s2)

    val after = Ann.search(df2, "vec_id", "p_diskann", q, 10, searchComplexity = 128)
      .collect().map(_.getLong(0)).toSeq
    assert(after == before, "diskann results differ after restart")
    assert(!after.contains(5L) && !after.contains(6L), "tombstones lost on restart")

    // mmap serving: the same .diskann bytes served disk-resident must search
    // bit-identically to the heap decode (same BeamSearcher, same kernels)
    {
      import graft.core.{DiskannFormat, DiskannMmapIndex}
      val meta = IndexCatalog.load(root, "p_diskann")
      for (sh <- meta.shards) {
        val heap = DiskannFormat.readFile(sh.file)
        val mm = DiskannMmapIndex.open(sh.file)
        assert(mm != null, "full-precision shard must open via mmap")
        assert(mm.size == heap.size && mm.dim == heap.dim)
        for (probe <- 0 until 5) {
          val pq = (0 until 64).map(i => ((i * 13 + probe * 7) % 32) / 32.0f).toArray
          val (hi, hd) = heap.search(pq, 10, 64)
          val (mi, md) = mm.search(pq, 10, 64)
          assert(hi.toSeq == mi.toSeq, s"mmap ids differ on shard ${sh.file}")
          assert(hd.toSeq == md.toSeq, s"mmap distances differ on shard ${sh.file}")
        }
        // vector() reconstruction must match too (vacuum/merge path)
        assert(heap.vector(0).toSeq == mm.vector(0).toSeq)
      }
      // SQ8 shards serve QUANTIZED from the mapped appendix (round-9):
      // bit-identical to the heap SQ8 reader — same dequantize arithmetic,
      // same array kernels
      val sq8Meta = IndexCatalog.load(root, "p_sq8")
      for (sh <- sq8Meta.shards) {
        val heap = DiskannFormat.readFile(sh.file)
        val mm = DiskannMmapIndex.open(sh.file)
        assert(mm != null, "SQ8 shard must open via mmap (quantized route)")
        assert(mm.isQuantized, "SQ8 shard must serve quantized")
        for (probe <- 0 until 5) {
          val pq = (0 until 64).map(i => ((i * 13 + probe * 7) % 32) / 32.0f).toArray
          val (hi, hd) = heap.search(pq, 10, 64)
          val (mi, md) = mm.search(pq, 10, 64)
          assert(hi.toSeq == mi.toSeq, s"SQ8 mmap ids differ on shard ${sh.file}")
          assert(hd.toSeq == md.toSeq, s"SQ8 mmap distances differ on shard ${sh.file}")
        }
        // vector() must return DEQUANTIZED values on both routes
        assert(heap.vector(0).toSeq == mm.vector(0).toSeq)
        // batch == per-query on the quantized mmap route
        val qs = (0 until 3).map(p =>
          (0 until 64).map(i => ((i * 11 + p * 5) % 32) / 32.0f).toArray).toArray
        val batch = mm.searchBatch(qs, 10, 64)
        qs.zipWithIndex.foreach { case (pq, bi) =>
          val (si, sd) = mm.search(pq, 10, 64)
          assert(batch(bi)._1.toSeq == si.toSeq && batch(bi)._2.toSeq == sd.toSeq,
            "SQ8 mmap batch differs from per-query")
        }
      }
      // end-to-end: force every shard through mmap serving via the threshold
      System.setProperty("graft.ann.mmapThreshold", "0")
      try {
        ShardCache.invalidate()
        val viaMmap = Ann.search(df2, "vec_id", "p_diskann", q, 10, searchComplexity = 128)
          .collect().map(_.getLong(0)).toSeq
        assert(viaMmap == before, "mmap-served search differs from heap-served")
        val sq8Heap = {
          System.clearProperty("graft.ann.mmapThreshold")
          ShardCache.invalidate()
          Ann.search(df2, "vec_id", "p_sq8", q, 10, searchComplexity = 128)
            .collect().map(_.getLong(0)).toSeq
        }
        System.setProperty("graft.ann.mmapThreshold", "0")
        ShardCache.invalidate()
        val sq8Mmap = Ann.search(df2, "vec_id", "p_sq8", q, 10, searchComplexity = 128)
          .collect().map(_.getLong(0)).toSeq
        assert(sq8Mmap == sq8Heap, "quantized mmap serving differs from heap")
      } finally {
        System.clearProperty("graft.ann.mmapThreshold")
        ShardCache.invalidate()
      }
    }

    val sq8Hit = Ann.search(df2, "vec_id", "p_sq8", df2.where(col("vec_id") === 7)
      .select(toFloatVec(col("embedding"))).head().getSeq[Float](0).toArray, 1,
      searchComplexity = 128).head().getLong(0)
    assert(sq8Hit == 7L, "sq8 index should find the exact row after restart")

    val hnswHits = Ann.search(df2, "vec_id", "p_hnsw", q, 5, searchComplexity = 128).collect()
    assert(hnswHits.length == 5)
    val brute = df2.orderBy(array_distance(toFloatVec(col("embedding")), floatVec(q.toSeq)))
      .limit(5).collect().map(_.getLong(0)).toSet
    assert(hnswHits.map(_.getLong(0)).count(brute) >= 4, "hnsw recall after restart")

    val flatTop = Ann.search(df2, "vec_id", "p_flat", q, 3).collect().map(_.getLong(0)).toSet
    val bruteTop = df2.orderBy(array_distance(toFloatVec(col("embedding")), floatVec(q.toSeq)))
      .limit(3).collect().map(_.getLong(0)).toSet
    assert(flatTop == bruteTop, "flat index must stay exact after restart")

    // catalog listing intact
    val names = Ann.list(s2).collect().map(_.getString(0)).toSet
    assert(Set("p_diskann", "p_sq8", "p_hnsw", "p_flat").subsetOf(names))
    // metadata.json keeps the engine strings it always carried, and a
    // load → typed engine → save round trip rewrites it byte for byte
    for ((name, engine) <- Seq("p_diskann" -> "diskann", "p_sq8" -> "diskann",
        "p_hnsw" -> "hnsw", "p_flat" -> "flat")) {
      val path = java.nio.file.Paths.get(IndexCatalog.indexDir(root, name), "metadata.json")
      val json = java.nio.file.Files.readString(path)
      assert(("\"engine\"\\s*:\\s*\"" + engine + "\"").r.findFirstIn(json).nonEmpty,
        s"$name metadata.json lost engine '$engine':\n$json")
      val meta = IndexCatalog.load(root, name)
      assert(meta.kind.name == engine)
      IndexCatalog.save(root, meta)
      assert(java.nio.file.Files.readString(path) == json, s"$name metadata.json changed")
    }
  }
}
