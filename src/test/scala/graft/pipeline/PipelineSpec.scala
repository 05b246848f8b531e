package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.Fixtures

/** Recall/quality checks for the approximate pipeline operators against
  * their exact baselines, on the sf0.001 testdata.
  */
class PipelineSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def docs = Fixtures.read(spark, sf, "documents")
  private def emb = Fixtures.read(spark, sf, "embeddings")

  test("minhash LSH finds the exact-jaccard near-dup pairs (recall = 1 here)") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} true pairs")
  }

  test("simhash: identical docs collide; near-dup pairs overlap jaccard pairs") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh.size == docs.count())
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.95)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // >=95% jaccard pairs should be within small hamming distance mostly
    val close = exact.count { case (a, b) =>
      java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 8
    }
    assert(exact.isEmpty || close.toDouble / exact.length >= 0.8,
      s"$close/${exact.length} high-jaccard pairs within hamming 8")
  }

  test("ann lsh + ivf: top-10 recall vs brute force") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val exact = Similarity.cosineTopK(rest, "vec_id", "embedding", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val lsh = Similarity.annTopKLsh(rest, "vec_id", "embedding", q, 10,
      planes = 10, maxBitDiff = 4).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(exact.count(lsh.contains) >= 5, s"lsh recall ${exact.count(lsh.contains)}/10")
    val (assigned, cents) = Similarity.ivfAssign(rest, "vec_id", "embedding", 8, spark)
    val ivf = Similarity.ivfTopK(assigned, cents, "vec_id", "embedding", q, 10, nprobe = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(exact.count(ivf.contains) >= 5, s"ivf recall ${exact.count(ivf.contains)}/10")
  }

  test("pq ann: codes are compact, encoding is partition-invariant, top-10 recall") {
    val rest = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
    val cb = Similarity.pqCodebook(rest, "vec_id", "embedding", m = 8, ksub = 16)
    assert(cb.length == 8 && cb.forall(_.length == 16) && cb(0)(0).length == 8)
    val codes = Similarity.pqEncode(rest, "vec_id", "embedding", cb)
      .select(col("vec_id"), col("__code"))
    val collected = codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(collected.values.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // deterministic under a different partitioning (encoding is per-row)
    val reparted = Similarity.pqEncode(rest.repartition(7), "vec_id", "embedding", cb)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](r.length - 1)).toMap
    assert(reparted == collected)
    // recall vs exact L2 top-10 (random near-orthogonal vectors are the
    // hard regime for a 4-bit codebook; real clustered data does better)
    val v = col("embedding").cast("array<double>")
    val exact = rest
      .select(col("vec_id"),
        (Similarity.dot(v, v) - lit(2.0) * Similarity.dot(v, typedlit(q))).as("d"))
      .orderBy(col("d").asc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val pq = Similarity.pqTopK(rest, "vec_id", "embedding", q, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(exact.count(pq.contains) >= 2, s"pq recall ${exact.count(pq.contains)}/10")
    // the broadcast scale path (codebook/LUT as a broadcast variable, one
    // fused kernel, plan size constant in m*ksub) ranks identically to
    // the literal-inlined plan — forced here via a zero threshold
    val pqBc = Similarity.pqTopK(rest, "vec_id", "embedding", q, k = 10,
        broadcastThreshold = 0)
      .collect().map(_.getLong(0)).toSet
    assert(pqBc == pq, s"broadcast ADC path diverged: $pqBc vs $pq")
  }

  test("knnGraphAnn: edge recall vs the exact kNN graph") {
    val exact = Similarity.knnGraph(emb, "vec_id", "embedding", k = 3)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // more tables + coarser buckets than the sim5 defaults: the recall
    // knobs doing their job even on near-orthogonal random embeddings
    // (the hard regime — real clustered embeddings recall far higher)
    val ann = Similarity.knnGraphAnn(emb, "vec_id", "embedding", k = 3,
      planes = 6, tables = 6).select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.6, s"ann knn-graph recall $recall over ${exact.size} edges")
    // multi-probe is the recall lever: without it the same params find less
    val noProbe = Similarity.knnGraphAnn(emb, "vec_id", "embedding", k = 3,
      planes = 6, tables = 6, multiProbe = false)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.count(noProbe.contains) <= exact.count(ann.contains))
    // every ANN edge's endpoints are real vectors and no self-edges
    assert(ann.forall { case (a, b) => a != b })
  }

  test("ivf k-means centroids: recall on skewed data >= first-n centroids") {
    import spark.implicits._
    // Skewed corpus: 3 tight clusters with very different sizes plus the
    // query's true neighbors in the smallest one. first-n-by-id centroids
    // all land in cluster A (ids are clustered too — the adversarial but
    // realistic case), so probing misses the small cluster.
    val rnd = new scala.util.Random(7)
    val dim = 16
    def noisy(base: Array[Double], eps: Double) =
      base.zipWithIndex.map { case (x, i) => x + eps * rnd.nextGaussian() }
    val a = Array.fill(dim)(rnd.nextGaussian())
    val b = Array.fill(dim)(rnd.nextGaussian())
    val c = Array.fill(dim)(rnd.nextGaussian())
    val rows =
      (1 to 400).map(i => (i.toLong, noisy(a, 0.05).toSeq)) ++
      (401 to 460).map(i => (i.toLong, noisy(b, 0.05).toSeq)) ++
      (461 to 480).map(i => (i.toLong, noisy(c, 0.05).toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val q = noisy(c, 0.05).toSeq
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def recallOf(assigned: org.apache.spark.sql.DataFrame,
        cents: Array[(Int, Seq[Double])]): Int = {
      val got = Similarity.ivfTopK(assigned, cents, "vec_id", "embedding",
        q, 10, nprobe = 2).select("vec_id").collect().map(_.getLong(0)).toSet
      exact.count(got.contains)
    }
    val (aF, cF) = Similarity.ivfAssign(df, "vec_id", "embedding", 8, spark)
    val (aK, cK) = Similarity.ivfAssignKMeans(df, "vec_id", "embedding", 8)
    val (rF, rK) = (recallOf(aF, cF), recallOf(aK, cK))
    assert(rK >= rF, s"k-means recall $rK < first-n recall $rF")
    assert(rK == 10, s"k-means should fully recover the small cluster, got $rK/10")
  }

  test("clusterBalancedSample: per-cluster cap holds, deterministic") {
    val got = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
      nlist = 4, perCluster = 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(got.nonEmpty)
    val perCluster = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perCluster.values.forall(_ <= 10), s"cap violated: $perCluster")
    assert(got.map(_._1).distinct.length == got.length, "no duplicate rows")
    assert(got.forall(_._3 <= 10), "ranks bounded by the cap")
    // deterministic under a different input partitioning
    val again = Similarity.clusterBalancedSample(emb.repartition(7),
      "vec_id", "embedding", nlist = 4, perCluster = 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(again.sorted.toSeq == got.sorted.toSeq)
  }

  test("ingest dedup: the broadcast guard counts bytes, so a few hundred very wide documents are not broadcast") {
    import spark.implicits._
    import graft.functions.{MinHashSig, VectorExprs}
    // four ~140 KB documents, shingled and signed with the ingest kernels
    val rnd = new scala.util.Random(7)
    val wide = (1 to 4).map(i => (i.toLong,
      Seq.fill(20000)(rnd.nextInt(1 << 20).toString).mkString(" ")))
      .toDF("doc_id", "text")
    val (a, b) = MinHashSig.params(60)
    val enriched = wide
      .withColumn("__gs", VectorExprs.shingleHashes(col("text"), 5))
      .withColumn("__sig", VectorExprs.minhashSig(col("__gs"), a, b, MinHashSig.P))
      .localCheckpoint()
    val fp = MinHashIngestIndex.footprint(enriched, "text")
    // text bytes + 8 B per shingle hash and per signature slot + 16 B
    val want = enriched.select(octet_length(col("text")), size(col("__gs")),
        size(col("__sig"))).collect()
      .map(r => r.getInt(0) + 8L * (r.getInt(1) + r.getInt(2)) + 16L).sum
    assert(fp == MinHashIngestIndex.BatchFootprint(4, want), s"want $want")
    assert(fp.broadcastable)
    // at this width (~0.7 MB a row) a few hundred documents pass the cap:
    // refused, though a 500,000-row cap admitted them
    val perRow = fp.bytes / fp.rows
    assert(perRow > 500000L, s"per row $perRow")
    val rows = MinHashIngestIndex.MaxBroadcastBatchBytes / perRow + 1
    assert(rows < 1000, s"$rows rows")
    assert(!MinHashIngestIndex.BatchFootprint(rows, rows * perRow).broadcastable)
    // the documented budget itself still broadcasts: 500 k narrow rows
    assert(MinHashIngestIndex.BatchFootprint(500000L, 500000L * 600L).broadcastable)
  }

  test("ingest dedup: batches filtered against the persisted band index") {
    import spark.implicits._
    import graft.core.{Catalog, TableDescriptor}
    import org.apache.spark.sql.types._
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-ingest").toString, spark)
    val corpus = cat.createTable("db", "corpus", TableDescriptor(
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))),
      bucketKeys = Seq("doc_id"), numBuckets = 2))
    def doc(seed: Int): String =
      new scala.util.Random(seed).shuffle(
        (1 to 40).map(i => s"w${(i * seed) % 23}")).mkString(" ")
    // pre-existing corpus rows; create() backfills their band rows
    corpus.append(Seq((1L, doc(3)), (2L, doc(5))).toDF("doc_id", "text"))
    val idx = MinHashIngestIndex.create(cat, "db", "corpus_idx", corpus,
      "doc_id", "text")
    assert(idx.index.scan().count() == 2 * 20, "backfill: 20 bands per doc")

    // batch 1: an exact dup of doc 1, a near-dup of doc 2 (tail change),
    // an in-batch dup pair, and one genuinely novel doc
    val nearDup2 = doc(5).split(" ").dropRight(2).mkString(" ") + " zz yy"
    val batch1 = Seq(
      (10L, doc(3)),     // dup of accepted 1 -> dropped
      (11L, nearDup2),   // near-dup of accepted 2 -> dropped
      (12L, doc(9)),     // novel, has an in-batch copy below
      (13L, doc(9)),     // in-batch dup of 12 -> dropped (higher id)
      (14L, doc(11))     // novel
    ).toDF("doc_id", "text")
    val novel1 = idx.ingest(batch1, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(novel1 == Set(12L, 14L), s"got $novel1")
    assert(corpus.scan().count() == 4) // 1, 2, 12, 14

    // batch 2: dup of a doc accepted in batch 1 (12) must now be caught
    val batch2 = Seq((20L, doc(9)), (21L, doc(17))).toDF("doc_id", "text")
    val novel2 = idx.ingest(batch2, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(novel2 == Set(21L), s"batch-1 acceptances must be indexed: $novel2")
    assert(corpus.scan().count() == 5)
    assert(idx.index.scan().count() == 5 * 20)
  }

  test("streaming ingest: readStream -> foreachBatch keeps the corpus " +
      "deduplicated; replayed batches are idempotent") {
    import spark.implicits._
    import graft.core.{Catalog, TableDescriptor}
    import org.apache.spark.sql.types._
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-ing-stream").toString,
      spark)
    val corpus = cat.createTable("db", "scorpus", TableDescriptor(
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))),
      bucketKeys = Seq("doc_id"), numBuckets = 2))
    val idx = MinHashIngestIndex.create(cat, "db", "scorpus_idx", corpus,
      "doc_id", "text")
    def doc(seed: Int): String =
      new scala.util.Random(seed).shuffle(
        (1 to 40).map(i => s"w${(i * seed) % 23}")).mkString(" ")
    val srcDir =
      java.nio.file.Files.createTempDirectory("graft-ing-src").toString
    // file 1: doc A (id 1), doc B (id 2), in-batch dup of A (id 3);
    // file 2: near-dup of B (id 10), novel C (id 11). File order is not
    // guaranteed, so assertions are on ORDER-INVARIANT properties: one
    // representative per near-dup class, whichever file won
    val file1 = Seq((1L, doc(3)), (2L, doc(5)), (3L, doc(3)))
      .toDF("doc_id", "text")
    file1.repartition(1).write.mode("append").parquet(srcDir)
    Seq((10L, doc(5)), (11L, doc(9))).toDF("doc_id", "text")
      .repartition(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = idx.ingestStream(stream, threshold = 0.8,
      java.nio.file.Files.createTempDirectory("graft-ing-ckpt").toString)
    q.awaitTermination()
    val accepted = corpus.scan().select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(accepted.size == 3, accepted)
    assert(accepted.contains(1L) && accepted.contains(11L), accepted)
    assert(Seq(2L, 10L).count(accepted.contains) == 1,
      s"exactly one of the B-class docs survives: $accepted")
    assert(!accepted.contains(3L), "in-batch dup of an accepted doc")
    assert(idx.index.scan().count() == 3 * 20)
    // crash-replay: re-ingesting an already-processed batch is a no-op
    assert(idx.ingest(file1, threshold = 0.8).isEmpty)
    assert(corpus.scan().count() == 3 && idx.index.scan().count() == 60)
  }

  test("ingest probes are bucket-pruned: files read follow the batch, not the index") {
    import spark.implicits._
    import graft.core.{Catalog, TableDescriptor}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-ingest-prune").toString, spark)
    val corpus = cat.createTable("db", "corpus", TableDescriptor(
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))),
      bucketKeys = Seq("doc_id"), numBuckets = 64))
    val rnd = new scala.util.Random(31)
    def doc(): String = (1 to 50).map(_ => s"w${rnd.nextInt(9999)}").mkString(" ")
    corpus.append((1L to 32L).map(i => (i, doc())).toDF("doc_id", "text"))
    val idx = MinHashIngestIndex.create(cat, "db", "corpus_idx", corpus,
      "doc_id", "text")

    // a 1-doc batch has 20 band rows -> at most 20 of the index's 64
    // storage buckets; the probe scan must read ONLY those bucket dirs
    val batch = Seq((100L, doc())).toDF("doc_id", "text")
    val probes = idx.bandRows(batch).localCheckpoint()
    val expected = probes.select(pmod(hash(col("band"), col("bucket")),
        lit(64)).as("b")).distinct().collect().map(_.getInt(0)).toSet
    assert(expected.size <= 20)

    def scanFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray
          .map(_.filePath.toString).toSeq
      }.flatten.distinct
    def diskFiles(t: graft.core.GraftTable): Seq[String] =
      graft.core.WarehouseIO.walkFiles(t.path)
        .filter(e => !e.isDir && e.name.endsWith(".parquet")).map(_.path)

    val total = diskFiles(idx.index)
    val pruned = scanFiles(
      idx.index.scanPrunedToKeys(probes.select(col("band"), col("bucket"))))
    assert(pruned.nonEmpty && pruned.size < total.size,
      s"probe read ${pruned.size}/${total.size} index files")
    assert(pruned.forall(p => expected.exists(b => p.contains(s"__bucket=$b/"))),
      s"probe read files outside its bucket set:\n${pruned.mkString("\n")}")
    // the resent-id guard prunes the corpus the same way
    val corpusPruned = scanFiles(
      corpus.scanPrunedToKeys(batch.select(col("doc_id"))))
    assert(corpusPruned.size < diskFiles(corpus).size && corpusPruned.size <= 1,
      s"1-id guard read ${corpusPruned.size} corpus files")
    // semantics: the pruned probe joins to exactly the full scan's matches
    def cands(index: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      probes.join(index.withColumnRenamed("doc_id", "b_id"),
          Seq("band", "bucket"))
        .select("doc_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands(idx.index.scanPrunedToKeys(
        probes.select(col("band"), col("bucket")))) ==
      cands(idx.index.logDF.select("band", "bucket", "doc_id")))
  }

  test("winnowing: detects a copied paragraph inside otherwise different docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def prose(words: Int) = (0 until words)
      .map(_ => ('a' + rnd.nextInt(26)).toChar.toString * (rnd.nextInt(6) + 2))
      .mkString(" ")
    val para = "the quick brown fox jumps over the lazy dog again and again in the yard"
    // docs 1 and 2 share ONLY the paragraph (local overlap); doc 3 is unrelated
    val df = Seq(
      (1L, prose(120) + " " + para + " " + prose(120)),
      (2L, prose(120) + " " + para + " " + prose(120)),
      (3L, prose(260))).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), pairs)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), pairs)
    // ...while global Jaccard at 0.8 does NOT consider them near-dups
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 5, threshold = 0.8)
      .collect()
    assert(jac.isEmpty, jac.mkString(","))
  }

  test("connected components: path, triangle, disjoint edges, singletons") {
    import spark.implicits._
    // path 1-2-3-4 (worst case for min-propagation), triangle 10-11-12,
    // isolated pair 20-21; node 30 appears in no pair
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (12L, 10L), (21L, 20L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))

    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 30L).toDF("doc_id")
    val cl = Dedup.clusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl(30L) == 30L && cl(4L) == 1L && cl(12L) == 10L && cl(21L) == 20L)
  }

  test("multimodal: analytic oracle replicas equal the REAL codec path " +
      "bit-for-bit (the mm3/mm4 oracle contract)") {
    import spark.implicits._
    val seeds = Seq(0, 1, 7, 123, 65535, -3)
    // image: pack -> resize(8x8) -> features(2x2), exactly mm3's shape
    val media = Multimodal.packSyntheticImages(
      seeds.map(_.toLong).toDF("doc_id"), "doc_id")
    val small = Multimodal.resizeImages(media, 8, 8)
    val got = Multimodal.imageFeatures(small, gridW = 2, gridH = 2)
      .collect().map { r =>
        val feats = r.getAs[scala.collection.Seq[Float]]("features")
        r.getAs[Long]("media_id") ->
          feats.foldLeft(0.0)((a, f) => a + f.toDouble)
      }.toMap
    seeds.foreach { s =>
      val exp = Multimodal.expectedImageLumSum(s)
      assert(got(s.toLong) == exp, s"image seed $s: ${got(s.toLong)} != $exp")
    }
    // audio: wav(100ms) -> energy(4 windows), exactly mm4's shape
    val wavs = seeds.map(s => (s.toLong, Multimodal.syntheticWav(100, s)))
      .toDF("media_id", "media")
    val gotA = Multimodal.audioFeatures(wavs, windows = 4)
      .collect().map { r =>
        val e = r.getAs[scala.collection.Seq[Float]]("energy")
        r.getAs[Long]("media_id") ->
          (e.foldLeft(0.0)((a, f) => a + f.toDouble),
            r.getAs[Boolean]("decoded"))
      }.toMap
    seeds.foreach { s =>
      val exp = Multimodal.expectedAudioEnergySum(s)
      assert(gotA(s.toLong)._2, s"wav seed $s must decode")
      assert(gotA(s.toLong)._1 == exp,
        s"audio seed $s: ${gotA(s.toLong)._1} != $exp")
    }
  }

  test("multimodal: REAL jdk codec — decode, grid features, resize round-trip") {
    import spark.implicits._
    // genuine PNGs through the genuine codec (javax.imageio is in the JDK)
    val blobs = Seq((1L, Multimodal.syntheticPng(32, 16, seed = 1)),
      (2L, Multimodal.syntheticPng(8, 8, seed = 2)),
      (3L, "not an image".getBytes("UTF-8"))) // falls back to the stub
    val df = blobs.toDF("media_id", "media")
    val feats = Multimodal.imageFeatures(df, gridW = 2, gridH = 2)
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[scala.collection.Seq[Float]]("features"),
          r.getAs[Boolean]("decoded"))).toMap
    assert(feats(1L)._2 && feats(2L)._2, "real PNGs must take the codec path")
    assert(!feats(3L)._2, "non-image bytes must fall back to the stub")
    // gradient image: right half is brighter (red ramps with x), so the
    // right cells' luminance must exceed the left cells'
    val f1 = feats(1L)._1
    assert(f1.length == 4 && f1(1) > f1(0) && f1(3) > f1(2), s"got $f1")
    // resize: decoded dimensions equal the target; meta tracks them
    val rs = Multimodal.resizeImages(df.limit(2), 4, 4).collect()
    rs.foreach { r =>
      val img = Multimodal.decodeImage(r.getAs[Array[Byte]]("media")).get
      assert(img.getWidth == 4 && img.getHeight == 4)
      val meta = r.getAs[org.apache.spark.sql.Row]("meta")
      assert(meta.getAs[Int]("width") == 4 && meta.getAs[Int]("height") == 4)
      assert(meta.getAs[String]("kind") == "image/png")
    }
    // determinism: the nearest-neighbor loop gives identical bytes-out
    val a = Multimodal.resizeImages(df.limit(1), 4, 4)
      .head.getAs[Array[Byte]]("media")
    val b = Multimodal.resizeImages(df.limit(1), 4, 4)
      .head.getAs[Array[Byte]]("media")
    assert(java.util.Arrays.equals(a, b))
  }

  test("multimodal: stereo WAV duration is in frames, not interleaved samples") {
    import spark.implicits._
    // hand-built 250ms stereo WAV (L = sine, R = silence)
    val sampleRate = 8000
    val n = sampleRate * 250 / 1000
    val pcm = new Array[Byte](n * 4)
    val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach { i =>
      bb.putShort((math.sin(2 * math.Pi * 400 * i / sampleRate) * 12000).toShort)
      bb.putShort(0.toShort)
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 2, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val df = Seq((1L, bos.toByteArray)).toDF("media_id", "media")
    val r = Multimodal.audioFeatures(df, windows = 2).head
    assert(r.getAs[Boolean]("decoded"))
    assert(math.abs(r.getAs[Double]("duration_ms") - 250.0) < 1.0,
      s"stereo duration must not double: ${r.getAs[Double]("duration_ms")}")
  }

  test("multimodal: resize passes undecodable blobs through with honest meta") {
    import spark.implicits._
    val df = Seq(
      (1L, Multimodal.syntheticPng(6, 6, seed = 4)),
      (2L, "junk".getBytes("UTF-8"))).toDF("media_id", "media")
    val rows = Multimodal.resizeImages(df, 3, 3).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(rows(1L).getAs[Boolean]("decoded"))
    assert(rows(1L).getAs[org.apache.spark.sql.Row]("meta")
      .getAs[String]("kind") == "image/png")
    // pass-through row: bytes untouched, NO fabricated png metadata
    assert(!rows(2L).getAs[Boolean]("decoded"))
    assert(java.util.Arrays.equals(
      rows(2L).getAs[Array[Byte]]("media"), "junk".getBytes("UTF-8")))
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("meta")),
      "no meta column on input -> pass-through meta must be null")
  }

  test("multimodal: REAL jdk audio codec — WAV decode, windowed RMS energy") {
    import spark.implicits._
    val df = Seq(
      (1L, Multimodal.syntheticWav(millis = 250, seed = 3)),
      (2L, "not audio".getBytes("UTF-8"))).toDF("media_id", "media")
    val rows = Multimodal.audioFeatures(df, windows = 4).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    val ok = rows(1L)
    assert(ok.getAs[Boolean]("decoded"))
    assert(ok.getAs[Float]("sample_rate") == 8000f)
    assert(math.abs(ok.getAs[Double]("duration_ms") - 250.0) < 1.0)
    // a constant-amplitude sine has RMS amp/sqrt(2) ≈ 12000/32768/1.414
    val e = ok.getAs[scala.collection.Seq[Float]]("energy")
    assert(e.length == 4 && e.forall(v => math.abs(v - 0.2589) < 0.01),
      s"got $e")
    assert(!rows(2L).getAs[Boolean]("decoded"))
  }

  test("multimodal: feature extraction batch shape + determinism") {
    val media = Multimodal.packAsMedia(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(media, dim = 8)
    assert(feats.columns.toSeq == Seq("media_id", "meta", "features"))
    val row = feats.filter(col("media_id") === 0).head
    val f = row.getSeq[Float](2)
    assert(f.length == 8 && f.forall(x => x >= 0f && x <= 1f))
    // deterministic: same input -> same features
    val again = Multimodal.extractFeatures(media, dim = 8)
      .filter(col("media_id") === 0).head.getSeq[Float](2)
    assert(f == again)
    // frame sampling covers the blob
    val frames = Multimodal.frameSample(media, 64, 2)
    assert(frames.count() > 0)
    val one = frames.filter(col("media_id") === 0).orderBy("frame_no")
      .select("frame").collect()
    assert(one.nonEmpty && one.forall(!_.isNullAt(0)))
  }

  test("decontaminate flags exactly the docs sharing an 8-gram with the benchmark") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),        // grams: a..h, b..i, c..j
      (2L, "A B c d e f g h x y"),        // shares "a b c d e f g h" (case-folded)
      (3L, "p q r s t u v w"),            // no overlap
      (4L, "too short")).toDF("id", "text")
    val bench = Seq((100L, "q w a b c d e f g h")).toDF("id", "text")
    val got = Dedup.decontaminate(corpus, bench, "id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("fuzzyDecontaminate flags a lightly-edited benchmark doc; clean docs pass") {
    import spark.implicits._
    val base = "lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua " +
      "ut enim ad minim veniam quis nostrud exercitation ullamco laboris"
    val corpus = Seq(
      (1L, base + " tiny edit"),
      (2L, "completely different text about unrelated topics entirely " +
        "with nothing shared against any benchmark document at all"))
      .toDF("id", "text")
    val bench = Seq((100L, base)).toDF("id", "text")
    val got = Dedup.fuzzyDecontaminate(corpus, bench, "id", "text",
      n = 5, threshold = 0.8).collect()
    assert(got.map(_.getLong(0)).toSet == Set(1L))
    assert(got.head.getLong(1) == 1L && got.head.getDouble(2) >= 0.8)
  }

  test("bigramNll: common-bigram docs score below rare-bigram docs; deterministic") {
    import spark.implicits._
    val in = Seq(
      (1L, "the cat sat the cat sat the cat sat"),
      (2L, "the cat sat the cat sat the cat sat"),
      (3L, "zyx wvu tsr qpo nml kji")).toDF("id", "text")
    val got = TextAnalysis.bigramNll(in, "id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L)._2 < got(3L)._2)   // repeated bigrams = likely; singletons = surprising
    assert(got(1L) == got(2L))        // identical docs, identical score
    assert(got(3L)._1 == 5L)          // 6 tokens -> 5 bigrams
  }

  test("redactPii: email masked before phone pass; counts equal emitted markers") {
    import spark.implicits._
    val in = Seq(
      (1L, "mail john.doe99@example.com or call 415-555-0192 00 now"),
      (2L, "no pii here"),
      // phone-shaped span inside an email local part: it is an email,
      // not a phantom unredacted phone — n_phones must be 0
      (3L, "reach 123-456-7890a@b.com today")).toDF("id", "text")
    val got = TextAnalysis.redactPii(in, "id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L)._1 == 1L && got(1L)._2 == 1L)
    assert(got(1L)._3 == "mail <EMAIL> or call <PHONE> now")
    assert(got(2L) == ((0L, 0L, "no pii here")))
    assert(got(3L) == ((1L, 0L, "reach <EMAIL> today")))
  }

  test("dupNGramStats counts cross-doc duplicated grams, not within-doc repeats") {
    import spark.implicits._
    val in = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h x y"),
      (3L, "z z z z z z z z z"),          // 2 positions, 1 distinct gram, no partner
      (4L, "too short")).toDF("id", "text")
    val got = Dedup.dupNGramStats(in, "id", "text", n = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((3L, 1L)), 2L -> ((3L, 1L)), 3L -> ((1L, 0L))))
  }

  test("removeDupSpans drops only tokens inside cross-doc shared 8-grams") {
    import spark.implicits._
    val in = Seq(
      // docs 1 and 2 share "a b c d e f g h" (positions 1-8); doc 1's
      // tail i j and doc 2's tail x y are unique and must survive
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h x y"),
      // within-doc repetition only: nothing shared cross-doc, keep all
      (3L, "z z z z z z z z z"),
      // shorter than one gram: untouched
      (4L, "too short"),
      // fully shared with doc 6: everything removed, empty string out
      (5L, "p q r s t u v w"),
      (6L, "p q r s t u v w")).toDF("id", "text")
    val got = Dedup.removeDupSpans(in, "id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((10L, 8L, "i j")))
    assert(got(2L) == ((10L, 8L, "x y")))
    assert(got(3L) == ((9L, 0L, "z z z z z z z z z")))
    assert(got(4L) == ((2L, 0L, "too short")))
    assert(got(5L) == ((8L, 8L, "")))
    assert(got(6L) == ((8L, 8L, "")))
  }

  test("text analysis: langid responds to real language signals") {
    import spark.implicits._
    val samples = Seq(
      (1L, "the cat and the dog went to the house of a friend"),
      (2L, "der Hund und die Katze sind nicht mit der Maus"),
      (3L, "le chat et la souris sont des animaux est pas"),
      (4L, "el perro y los gatos no es una casa con por"),
      (5L, "漢字漢字漢字漢字漢字漢字"),
      (6L, "zzz qqq xxx")).toDF("id", "text")
    val got = samples.select($"id", TextAnalysis.langId($"text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es",
      5L -> "zh", 6L -> "und"))
  }

  test("gopherRules flags each rule independently and combines into keep") {
    import spark.implicits._
    val good = "the quick brown fox jumps over a lazy dog and runs to " +
      "the old mill where it rests in the warm sun of late afternoon"
    val samples = Seq(
      (1L, good),                                     // passes everything
      (2L, "short text the a of"),                    // too few words
      (3L, good + " ###### ##### #### ### ## # ... ... ..."), // symbol ratio
      (4L, "1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 19 20 " +
        "the a of in is"),                            // alpha-word share low
      (5L, "zz qq ww rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk " +
        "ll mm nn bb vv cc xx"))                      // no stopwords
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(samples, "doc_id", "text", minWords = 20)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6), r.getBoolean(7))).toMap
    assert(got(1L) == ((true, true, true, true, true, true)))
    assert(!got(2L)._1 && !got(2L)._6)       // word count fails -> keep false
    assert(!got(3L)._3 && !got(3L)._6)       // symbol ratio fails
    assert(!got(4L)._4 && !got(4L)._6)       // alpha words fail
    assert(!got(5L)._5 && !got(5L)._6)       // stopwords fail
  }

  test("semanticDedup matches the brute-force in-cluster rule; kmeans variant covers all ids") {
    val rest = emb.filter(col("vec_id") =!= 0)
    val vecs = rest.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    // replicate ivfAssign: centroids = first 16 by id, argmax cosine,
    // ties -> larger index (Spark greatest(struct) semantics)
    val cents = vecs.take(16).map(_._2)
    val cluster = vecs.map { case (id, v) =>
      var best = 0; var bestS = Double.NegativeInfinity
      for (i <- cents.indices) {
        val s = cos(v, cents(i))
        if (s >= bestS) { bestS = s; best = i }
      }
      id -> best
    }.toMap
    val byId = vecs.toMap
    val expRemoved = vecs.map(_._1).filter { id =>
      vecs.exists { case (o, _) =>
        o < id && cluster(o) == cluster(id) && cos(byId(o), byId(id)) >= 0.4
      }
    }.toSet
    val got = Dedup.semanticDedup(rest, "vec_id", "embedding",
        nlist = 16, threshold = 0.4, spark)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(got.length == vecs.length)
    assert(got.map(r => r._1 -> r._2).toMap == cluster)
    assert(got.filterNot(_._3).map(_._1).toSet == expRemoved)
    assert(expRemoved.nonEmpty, "threshold should remove something here")
    // production quantizer: same ids, one row each, kept is a subset rule
    val km = Dedup.semanticDedup(rest, "vec_id", "embedding",
        nlist = 8, threshold = 0.4, spark, kmeansClusters = true)
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(km.map(_._1).sorted.toSeq == vecs.map(_._1).toSeq)
  }

  test("capPerGroup keeps exactly the top-k per group regardless of salting") {
    import spark.implicits._
    // 3 groups with sizes 50/30/5; score has deliberate ties (i % 7) so
    // the doc_id tiebreak matters; k=4 with salts>1 exercises the salted
    // local prune (cells hold fewer than k rows each)
    val df = (1L to 85L).map { i =>
      val g = if (i <= 50) "a" else if (i <= 80) "b" else "c"
      (i, g, (i % 7).toDouble)
    }.toDF("id", "grp", "score")
    val expected = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._1)).take(4).zipWithIndex
          .map { case (r, i) => (r._1, i + 1) }
      }.toMap
    for (salts <- Seq(1, 4, 64)) {
      val got = Sampling.capPerGroup(df, "id", "grp", "score", k = 4, salts)
        .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
      assert(got == expected, s"salts=$salts")
    }
  }

  test("unigramNll matches a driver-side replay; common text scores lower") {
    val toks = docs.select(col("doc_id"),
        TextAnalysis.tokens(lower(col("text"))).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val freq = toks.flatMap(_._2).groupBy(identity).map { case (t, xs) =>
      t -> xs.size.toLong
    }
    val total = freq.values.sum
    val exp = toks.map { case (id, ts) =>
      id -> (math.log(total.toDouble) -
        ts.map(t => math.log(freq(t).toDouble)).sum / ts.size)
    }.toMap
    val got = TextAnalysis.unigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == exp.keySet)
    for ((id, e) <- exp)
      assert(math.abs(got(id) - e) <= 1e-9 * math.max(1.0, math.abs(e)),
        s"doc $id: got ${got(id)}, expected $e")
  }

  test("balancedPositions: permutation, stratified spread, partition-invariant") {
    import spark.implicits._
    // skewed mix: domain a 60, b 30, c 6
    val df = ((1L to 60L).map((_, "a")) ++ (61L to 90L).map((_, "b")) ++
      (91L to 96L).map((_, "c"))).toDF("id", "dom")
    val run = () => Sampling.balancedPositions(df, "id", "dom")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val got = run()
    // permutation of 0..n-1
    assert(got.map(_._3).sorted.toSeq == (0L until 96L).toSeq)
    // stratified: each domain puts half (±1 by the r/(cnt+1) strata) of
    // its docs in each half of the global order — an unbalanced shuffle
    // would routinely land domain c entirely in one half
    for ((dom, cnt) <- Seq(("a", 60), ("b", 30), ("c", 6))) {
      val firstHalf = got.filter(r => r._2 == dom && r._3 < 48).length
      assert(math.abs(firstHalf - cnt / 2.0) <= 1.5,
        s"domain $dom: $firstHalf of $cnt in first half")
    }
    // deterministic under partitioning changes
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      assert(run().sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("dsirScore matches a driver-side replay and is partition-invariant") {
    val target = col("doc_id") % 10 === 0
    val toks = docs.select(col("doc_id"),
        TextAnalysis.tokens(lower(col("text"))).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val buckets = 512
    def h(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(g.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % buckets
    }
    val docb = toks.flatMap { case (id, ts) =>
      val grams = ts ++ ts.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      grams.groupBy(h).map { case (b, gs) => (id, b, gs.size.toLong) }
    }
    val tgt = (id: Long) => id % 10 == 0
    val rc = docb.groupBy(_._2).map { case (b, xs) => b -> xs.map(_._3).sum }
    val tc = docb.filter(x => tgt(x._1)).groupBy(_._2)
      .map { case (b, xs) => b -> xs.map(_._3).sum }.withDefaultValue(0L)
    val rt = rc.values.sum; val tt = tc.values.sum
    val exp = docb.groupBy(_._1).map { case (id, xs) =>
      id -> xs.map { case (_, b, cnt) =>
        cnt * (math.log((tc(b) + 1.0) / (tt + buckets)) -
          math.log((rc(b) + 1.0) / (rt + buckets)))
      }.sum
    }
    val run = () => TextAnalysis.dsirScore(docs, "doc_id", "text",
        target, buckets)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val got = run()
    assert(got.keySet == exp.keySet)
    for ((id, e) <- exp)
      assert(math.abs(got(id) - e) <= 1e-9 * math.max(1.0, math.abs(e)),
        s"doc $id: got ${got(id)}, expected $e")
    // bit-reproducibility across partitionings (the sort_array fold)
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      assert(run() == got)
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }
}
