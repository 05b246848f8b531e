package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Bitmaps
import graft.ops.Fixtures
import graft.pipeline.{Bpe, Dedup, Multimodal, Sampling, Sessions, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query names reference SURVEY.md §2 operator ids so the inventory can be
  * checked line by line. Every oracle-checked query keeps inexact doubles
  * out of distributed aggregates (decimal casts) so hash comparison is
  * order-independent.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Fixtures.read(s, dir, n)

  /** The d6/d10-shared (doc_id, canonical_id) cluster map over the exact
    * Jaccard pair graph — connected components run ONCE per bench pass
    * (the same cross-query reuse discipline as the shingle stage and the
    * pair graph themselves; each pass resets the cache and re-pays).
    */
  private def jaccardClusters(s: SparkSession, dir: String,
      docs: DataFrame): DataFrame =
    Fixtures.cachedDf("jaccard_clusters", dir) {
      val pairs = Fixtures.cachedDf("jaccard_pairs", dir) {
        Dedup.ngramJaccardPairsFromDocs(shingleDocs(s, dir), threshold = 0.8)
      }
      Dedup.clusters(docs, "doc_id", pairs)
    }

  /** The dedup-family shared shingle table (one corpus shingling pass per
    * bench pass — d2/d3/d6/d10/dc2 all read it).
    */
  private def shingleDocs(s: SparkSession, dir: String): DataFrame =
    Fixtures.cachedDf("shingle_docs", dir) {
      Dedup.hashedShingleDocs(t(s, dir, "documents"), "doc_id", "text", n = 5)
    }

  /** The shared MinHash signature table over [[shingleDocs]] (d3's LSH
    * table; dc2's split signatures are filters of it) — the corpus is
    * signed once per bench pass.
    */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    Fixtures.cachedDf("minhash_sigs", dir) {
      Dedup.minhashSignaturesFromDocs(shingleDocs(s, dir), numHashes = 60)
    }

  /** The ta8/ta16/ta19/ta20-shared per-(doc, token) frequency table —
    * the corpus tokenize+explode (the widest scalar stage of the ta
    * family) runs once per bench pass.
    */
  private def tokenTf(s: SparkSession, dir: String): DataFrame =
    Fixtures.cachedDf("token_tf", dir) {
      TextAnalysis.docTokenTf(t(s, dir, "documents"), "doc_id", "text")
    }

  /** The d7/dc1-shared per-document DISTINCT word-8-gram hash table —
    * the corpus-wide explode runs once per bench pass.
    */
  private def docGram8(s: SparkSession, dir: String): DataFrame =
    Fixtures.cachedDf("doc_gram8", dir) {
      Dedup.docNGramHashes(t(s, dir, "documents"), "doc_id", "text", n = 8)
    }

  /** (doc_id, source, quality, n_tokens) — the per-document quality/size
    * table five selection operators rank on (ta11/ta12/ta15, pipe2,
    * pipe3). One regex+tokenize pass over the corpus per bench pass,
    * shared through the same cross-query cache as the shingle stage.
    */
  private def docScores(s: SparkSession, dir: String): DataFrame =
    Fixtures.cachedDf("doc_scores", dir) {
      TextAnalysis.widen(t(s, dir, "documents")).select(col("doc_id"),
        col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    }

  /** The pipe2/pipe3-shared selection prefix: Gopher rule filter →
    * per-source salted top-k cap, carrying every column either pipeline
    * reads downstream (pipe2 keeps quality/rank in its output; pipe3
    * packs n_tokens into shards).
    *
    * Eager on first use: the first call for a `dir` RUNS a Spark job —
    * the rule table is `localCheckpoint`ed while the plan is built — and
    * later calls return the cached frame.
    */
  private def pipeCapped(s: SparkSession, dir: String): DataFrame =
    Fixtures.cachedDf("pipe_capped", dir) {
      // localCheckpoint BEFORE the keep-filter (the pipe1 lesson, round
      // 17 audit): filtering the gopherRules projection directly lets
      // pushdown substitute every rule alias into ONE Filter condition
      // over raw text — six split(trim(text)) tokenizations plus two
      // regexes per doc, since FilterExec does no subexpression
      // elimination. Materializing the rule table first (tiny rows: id +
      // flag columns, no text) evaluates the rules ONCE in a projection,
      // where subexpression elimination shares the tokenize.
      val kept = TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id",
        "text", minWords = 20).localCheckpoint()
        .filter(col("keep")).select("doc_id")
      Sampling.capPerGroup(docScores(s, dir).join(kept, Seq("doc_id")),
        "doc_id", "source", "quality", k = 20)
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * pricing-summary aggregate over the lineitem log (Catalyst handles
    * scan+filter pushdown; one shuffle, map-side partial agg).
    */
  def entry(spark: SparkSession): DataFrame = {
    val li = t(spark, "/root/testdata/sf0.001", "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("sum_qty"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- S2: bounded scan with projection + filter (pushed to parquet)
    "s2_scan_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))),

    // ----- P1: projection pushdown (column pruning to the scan)
    "p1_projection" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))),

    // ----- P2: the full leaf-predicate set (Equal..Contains)
    "p2_predicates" -> ((s, dir) =>
      t(s, dir, "part").filter(
        col("p_size") >= 5 && col("p_size") <= 40 && col("p_size") =!= 13 &&
        col("p_brand").isin("Brand#1", "Brand#2", "Brand#3", "Brand#10",
          "Brand#17", "Brand#22") &&
        !col("p_type").isin("STANDARD") &&
        (col("p_name").startsWith("s") || col("p_name").endsWith("t") ||
          col("p_name").contains("gear")) &&
        col("p_retailprice").isNotNull)),

    // ----- S5/O1: LIMIT pushdown (deterministic top-k form)
    "s5_limit_topk" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .limit(20)),

    // ----- A6: count(*) answered from parquet metadata
    "a6_count_star" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),

    // ----- S8+S2: append->scan roundtrip through the graft log table
    "s8_append_scan" -> ((s, dir) => {
      val roundtrip = Fixtures.lineitemLog(s, dir).scan()
      roundtrip.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("sum_qty"))
    }),

    // ----- A1: default merge engine (last-write-wins upsert)
    "a1_upsert_lww" -> ((s, dir) => Fixtures.usersLww(s, dir).scan()),

    // ----- A1 + DeleteBehavior.ALLOW: deletes remove, later upserts re-add
    "a1_upsert_delete" -> ((s, dir) => Fixtures.usersLwwDeletes(s, dir).scan()),

    // ----- A1 + DeleteBehavior.IGNORE: delete intents dropped by the engine
    "a1_upsert_delete_ignore" -> ((s, dir) =>
      Fixtures.usersLwwDeletesIgnore(s, dir).scan()),

    // ----- §1.4 schema evolution: ADD COLUMN LAST mid-history; pre-ALTER
    // log rows read the new column as null
    "e1_add_column" -> ((s, dir) => Fixtures.usersEvolved(s, dir).scan()),

    // ----- T7 undo recovery (UndoComputer.java:43): a registered
    // producer's post-checkpoint writes (inserts, updates, deletes) are
    // compensated away — the state must equal LWW over batch 1 alone
    "t10_undo_recovery" -> ((s, dir) => Fixtures.usersUndone(s, dir).scan()),

    // ----- S3/S13 time travel: state as of the between-commits timestamp
    // (only the first commit's rows are visible)
    "tt1_time_travel" -> ((s, dir) => {
      val (tbl, split) = Fixtures.lineitemTwoCommits(s, dir)
      tbl.scanAsOf(split)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }),

    // ----- S3/S13 version travel (`VERSION AS OF`): PK-merged state at
    // recorded commit version 1 of 2 — exact offsets, not wall-clock
    "tt2_version_travel" -> ((s, dir) =>
      Fixtures.usersTwoVersions(s, dir).scanAtVersion(1L)),

    // ----- in-place restore (Delta RESTORE / Iceberg rollback analog):
    // rollbackTo(1) physically truncates the log back to version 1's
    // offsets — the restored STATE must equal version-1 travel
    "tt4_rollback" -> ((s, dir) =>
      Fixtures.usersRolledBack(s, dir).scan()),

    // ----- T3 incremental read (delta `table_changes` / CDF analog):
    // the changelog of commits after version 1 up to version 2 — offset-
    // slice read, no full-log scan
    "tt3_changes_between" -> ((s, dir) =>
      Fixtures.usersTwoVersions(s, dir).changesBetween(1L, 2L)
        .select(col("_change_type"), col("user_id"), col("ts"), col("value"))),

    // ----- incremental Iceberg lake tiering (LakeTableTieringManager
    // analog): full export, a batch touching 2 of 5 partitions, then an
    // incremental tier; read back THROUGH the Iceberg metadata — the
    // oracle hash proves the delta-moved lake equals a from-scratch
    // computation of the same state
    "tier1_incremental_export" -> ((s, dir) => {
      val lake = Fixtures.tieredLakeDir(s, dir)
      graft.core.IcebergExport.readLive(s, lake)
        .select(col("event_type"), col("user_id"), col("ts"),
          col("value").cast("double").as("value"), col("props"))
    }),

    // ----- the same tiering pipeline through the DELTA format path
    // (TABLE_DATALAKE_FORMAT analog): _delta_log JSON commits, read back
    // by log replay — the oracle hash proves both lake formats publish
    // the identical state
    "tier2_delta_export" -> ((s, dir) => {
      val lake = Fixtures.tieredDeltaLakeDir(s, dir)
      graft.core.DeltaExport.readLive(s, lake)
        .select(col("event_type"), col("user_id"), col("ts"),
          col("value").cast("double").as("value"), col("props"))
    }),

    // ----- Delta lake time travel: version 0 of the tiered dir is the
    // PRE-overwrite state — its files are tombstoned in version 1 but
    // still on disk, and capped log replay reads them back exactly
    "tt5_delta_version_travel" -> ((s, dir) => {
      val lake = Fixtures.tieredDeltaLakeDir(s, dir)
      graft.core.DeltaExport.readVersion(s, lake, 0L)
        .select(col("event_type"), col("user_id"), col("ts"),
          col("value").cast("double").as("value"), col("props"))
    }),

    // ----- the same tiering pipeline through the PAIMON format path —
    // the reference's PRIMARY lake (fluss-lake-paimon): snapshot/ JSON +
    // manifest/ Avro, read back base+delta through the manifests — the
    // oracle hash proves all three lake formats publish identical state
    "tier3_paimon_export" -> ((s, dir) => {
      val lake = Fixtures.tieredPaimonLakeDir(s, dir)
      graft.core.PaimonExport.readLive(s, lake)
        .select(col("event_type"), col("user_id"), col("ts"),
          col("value").cast("double").as("value"), col("props"))
    }),

    // ----- Paimon time travel: snapshot 1 of the tiered dir is the
    // PRE-overwrite state — snapshot 2 replaced 2 of 5 partitions, but
    // snapshot 1's manifests still resolve the original files
    "tt6_paimon_snapshot_travel" -> ((s, dir) => {
      val lake = Fixtures.tieredPaimonLakeDir(s, dir)
      graft.core.PaimonExport.readSnapshot(s, lake, 1L)
        .select(col("event_type"), col("user_id"), col("ts"),
          col("value").cast("double").as("value"), col("props"))
    }),

    // ----- the same tiering pipeline through the HUDI COW format path
    // (fluss-lake-hudi): a .hoodie/ timeline of commit/replacecommit
    // instants, live set resolved by timeline replay — the oracle hash
    // proves all four lake formats publish identical state
    "tier4_hudi_export" -> ((s, dir) => {
      val lake = Fixtures.tieredHudiLakeDir(s, dir)
      graft.core.HudiExport.readLive(s, lake)
        .select(col("event_type"), col("user_id"), col("ts"),
          col("value").cast("double").as("value"), col("props"))
    }),

    // ----- Hudi time travel: the FIRST timeline instant is the
    // PRE-overwrite state — the second tier's replacecommit retired 2 of
    // 5 partitions' file groups, but replaying the timeline only up to
    // the first instant still resolves the original files
    "tt7_hudi_instant_travel" -> ((s, dir) => {
      val lake = Fixtures.tieredHudiLakeDir(s, dir)
      val first = graft.core.HudiExport.earliestInstant(lake).get
      graft.core.HudiExport.readInstant(s, lake, first)
        .select(col("event_type"), col("user_id"), col("ts"),
          col("value").cast("double").as("value"), col("props"))
    }),

    // ----- S7's TRUE shape — the LAKE union read
    // (LakeSnapshotAndLogSplitScanner / FlussLakeUpsertPartitionReader):
    // cold state from the tiered Iceberg dir via the lake metadata,
    // freshness from the log tail above the lake's pinned offsets, keyed-
    // merged — the lake here is one whole batch BEHIND the table
    "s17_lake_union_read" -> ((s, dir) => {
      val t = Fixtures.tieredLakeUnionTable(s, dir)
      t.scanLakeUnion(t.path + "_lake")
        .select(col("event_type"), col("user_id"), col("ts"),
          col("value").cast("double").as("value"), col("props"))
    }),

    // ----- the SAME union read through catalog SQL (the reference's
    // SQL-first surface: SET spark.sql.fluss.read.lake-union): the
    // warehouse pins lake-union + grouping as dynamic configs and
    // PkCollapseRule substitutes the grouped scanLakeUnion plan — lake
    // cold state ∪ fresh tail merged per bucket, zero exchanges, from
    // plain SELECT
    "s18_lake_union_sql" -> ((s, dir) => {
      val cat = Fixtures.lakeUnionSqlCatalog(s, dir)
      s.sql(s"""SELECT event_type, user_id, ts,
          CAST(value AS DOUBLE) AS value, props
        FROM $cat.db.events_lu""")
    }),

    // ----- TIER5: type fidelity through ALL FOUR lake formats — an
    // all-types PK table (DECIMAL, TIMESTAMP, TIMESTAMP_NTZ, DATE,
    // BINARY, ARRAY, MAP, STRUCT) tiered through each format's metadata
    // and read back through it; the oracle recomputes every value from
    // customer, so a schema-serialization bug in any format's type
    // mapping (Iceberg type JSON, Delta schemaString, Paimon SQL type
    // strings, Hudi's stored schema) hash-mismatches. Complex columns
    // are projected to comparison-stable scalars AFTER the roundtrip
    // (deep equality per format is pinned by AllTypesLakeSpec).
    "tier5_all_types" -> ((s, dir) => {
      def rd(fmt: String, df: DataFrame): DataFrame = df.select(
        lit(fmt).as("fmt"), col("k"),
        col("dec_v").cast("double").as("dec_v"), col("ts"), col("tsn"),
        col("dt"), lower(hex(col("bin"))).as("bin_hex"),
        col("arr").getItem(0).as("arr0"), col("arr").getItem(1).as("arr1"),
        element_at(col("m"), "a").as("m_a"),
        element_at(col("m"), "b").as("m_b"),
        col("st.n").as("st_n"), col("st.nk").as("st_nk"))
      rd("iceberg", graft.core.IcebergExport.readLive(s,
          Fixtures.allTypesLakeDir(s, dir, "iceberg")))
        .unionByName(rd("delta", graft.core.DeltaExport.readLive(s,
          Fixtures.allTypesLakeDir(s, dir, "delta"))))
        .unionByName(rd("paimon", graft.core.PaimonExport.readLive(s,
          Fixtures.allTypesLakeDir(s, dir, "paimon"))))
        .unionByName(rd("hudi", graft.core.HudiExport.readLive(s,
          Fixtures.allTypesLakeDir(s, dir, "hudi"))))
    }),

    // ----- T2's LAKE-SEEDED full startup (HybridSnapshotLogSplit.java:37
    // + fluss-spark read/lake/FlussLakeUtils.scala): an events log tiered
    // to Iceberg and EXPIRED up to the pinned tier offsets — history
    // lives only in the lake — cold-started as a scan.startup.mode=full
    // stream: batch 0 seeds from the lake, the tail streams from the log
    // above the pinned offsets; the drained stream must equal the whole
    // corpus exactly once across the lake/log seam
    "t2_lake_seeded_stream" -> ((s, dir) =>
      Fixtures.lakeSeededStreamResult(s, dir)
        .select(col("event_type"), col("user_id"), col("ts"),
          col("value").cast("double").as("value"), col("props"))),

    // ----- S1 poll consumer (LogScanner poll/commit + group resume):
    // two polls across a committed restart cover the log exactly once
    "s1_log_poller" -> ((s, dir) => Fixtures.lineitemPolled(s, dir)),

    // ----- S13 small-file compaction: scan after rewriteLogFiles must
    // return the same rows the two pre-rewrite commits appended
    "s13_rewrite_files" -> ((s, dir) =>
      Fixtures.lineitemRewritten(s, dir).scan()
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))),

    // ----- S15: z-order-clustered rewrite (Delta/Iceberg ZORDER analog) —
    // range predicates on BOTH clustered dims; rows must round-trip
    // exactly, and the layout makes min/max skipping fire on each dim
    "s15_zorder" -> ((s, dir) =>
      Fixtures.lineitemZordered(s, dir).scan()
        .filter(col("l_partkey") <= 50 && col("l_suppkey") <= 5)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))),

    // ----- A2: partial update (declared column subset)
    "a2_partial_update" -> ((s, dir) => Fixtures.usersPartial(s, dir).scan()),

    // ----- A3: FIRST_ROW merge engine
    "a3_first_row" -> ((s, dir) => Fixtures.usersFirst(s, dir).scan()),

    // ----- A4: VERSIONED merge engine (max ts wins, later offset on ties)
    "a4_versioned" -> ((s, dir) => Fixtures.usersVersioned(s, dir).scan()),

    // ----- A5: AGGREGATION merge engine (sum/max/listagg/last_value)
    "a5_aggregation" -> ((s, dir) => Fixtures.userAggs(s, dir).scan()),

    // ----- A5 retraction: CDC changelog (+I/-U/+U) applied to a sum
    // aggregate — retraction makes it converge to the last value
    "a5_retraction" -> ((s, dir) => Fixtures.usersRetractAgg(s, dir).scan()),

    // ----- T3: changelog generation (+I / -U / +U)
    "t3_changelog" -> ((s, dir) =>
      Fixtures.usersLww(s, dir).changelog()
        .select(col("_change_type"), col("user_id"), col("ts"), col("value"))),

    // ----- J1: primary-key point lookup (bucket-pruned)
    "j1_pk_lookup" -> ((s, dir) =>
      Fixtures.usersLww(s, dir).lookup(Map("user_id" -> 7L))),

    // ----- J1 batched: N point reads in ONE job, pruned to the union of
    // the keys' buckets (LookupClient/LookupSender batching)
    "j1_batched_lookup" -> ((s, dir) =>
      Fixtures.usersLww(s, dir).lookupAll(
        Seq(3L, 7L, 11L, 42L).map(k => Map[String, Any]("user_id" -> k)))),

    // ----- J2: prefix-key lookup (bucket key = PK prefix)
    "j2_prefix_lookup" -> ((s, dir) =>
      Fixtures.userTypeState(s, dir).prefixLookup(Map("user_id" -> 7L))),

    // ----- J9 (beyond the reference): secondary-index probe — equality
    // on a NON-key column answered by a bucket-pruned prefix lookup on a
    // changelog-maintained index table + a batched PK lookup, never a
    // state scan
    "j9_secondary_index" -> ((s, dir) =>
      Fixtures.usersByTypeIndex(s, dir).lookup("purchase")
        .select(col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"))),

    // ----- J9 hot-value path: a tiny threshold forces the distributed
    // semi-join fallback (base state ⋉ index probe) instead of the
    // driver-collected point lookups — the plan a low-cardinality index
    // value takes at scale
    "j10_hot_index_join" -> ((s, dir) =>
      Fixtures.usersByTypeIndex(s, dir).lookupWithThreshold(1, "view")
        .select(col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"))),

    // ----- J11: storage-partitioned join — orders ⋈ customer, both
    // bucketed by custkey into the same bucket count; the scans report
    // KeyGroupedPartitioning over the catalog's bucket() function and
    // the join (AND the group-by on the same key) plans with ZERO
    // exchanges. At 100 TB this is the difference between shuffling two
    // fact tables and streaming co-located buckets (SpjSpec pins the
    // shuffle-free plan; this query pins the ANSWER).
    "j11_colocated_join" -> ((s, dir) => {
      val cat = Fixtures.spjCatalog(s, dir)
      s.sql(s"""SELECT o.o_custkey AS custkey, c.c_name AS name,
          count(*) AS n_orders,
          CAST(sum(o.o_totalprice) AS DOUBLE) AS total
        FROM $cat.db.orders_by_cust o
        JOIN $cat.db.customer_by_cust c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey, c.c_name""")
    }),

    // ----- lake-format export: current state -> plain hive parquet +
    // manifest, read back by a BARE parquet scan (no graft reader)
    "s16_export_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-exp-q").toString
      Fixtures.usersLww(s, dir).exportSnapshot(out)
      s.read.parquet(out).select(col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    }),

    // ----- J3: lookup join (stream side enriched against PK state)
    "j3_lookup_join" -> ((s, dir) => {
      val state = Fixtures.usersLww(s, dir).scan()
      val cust = t(s, dir, "customer")
      state.join(broadcast(cust), state("user_id") === cust("c_custkey"))
        .select(col("user_id"), col("event_type"), col("value"),
          col("c_name"), col("c_mktsegment"))
    }),

    // ----- §2.8: roaring-bitmap agg: distinct users per event type
    "f1_rb_cardinality" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(Bitmaps.rbCardinality(Bitmaps.rb_build_agg(col("user_id")))
          .as("distinct_users"))),

    // ----- §2.8: rb_and/rb_or of two bitmaps (users in click AND view)
    "f2_rb_intersect" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val bm = ev.filter(col("event_type").isin("click", "view"))
        .groupBy(col("event_type"))
        .agg(Bitmaps.rb_build_agg(col("user_id")).as("bm"))
        .groupBy()
        .agg(Bitmaps.rbCardinality(Bitmaps.rb_and_agg(col("bm"))).as("n_both"),
          Bitmaps.rbCardinality(Bitmaps.rb_or_agg(col("bm"))).as("n_either"))
      bm
    }),

    // ----- P4: partition pruning (hive partition dirs by day)
    "p4_partition_pruning" -> ((s, dir) =>
      Fixtures.eventsPartitioned(s, dir).scan()
        .filter(col("dt") === "2024-01-15")
        .select(col("event_id"), col("user_id"), col("event_type"), col("dt"))),

    // ----- S14: partition retention (TTL) — old partitions dropped
    "s14_ttl_retention" -> ((s, dir) =>
      Fixtures.eventsPartitionedExpired(s, dir).scan()
        .groupBy(col("dt")).agg(count(lit(1)).as("n"))),

    // ----- S14b: retention BY POLICY — one maintainPartitions tick at a
    // fixed now (AutoPartitionManager.java:86 analog; retain 5 days from
    // 2024-01-28 → cutoff 2024-01-23, pre-create 2 → empty 01-29 dir that
    // scans must not surface)
    "s14_auto_policy" -> ((s, dir) =>
      Fixtures.eventsAutoPartitioned(s, dir).scan()
        .groupBy(col("dt")).agg(count(lit(1)).as("n"))),

    // ----- T3: $binlog virtual table (before/after images)
    "t3_binlog" -> ((s, dir) =>
      Fixtures.usersLww(s, dir).binlog()
        .select(col("_change_type"),
          coalesce(col("after.user_id"), col("before.user_id")).as("user_id"),
          col("before.value").as("before_value"),
          col("after.value").as("after_value"))),

    // ----- D1: exact dedup (normalized text)
    "d1_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),

    // ----- D2: exact n-gram Jaccard near-dup pairs (correctness baseline;
    // pair graph persisted — d6 reuses it; the hashed-shingle stage is
    // shared with d3's MinHash path)
    "d2_ngram_jaccard" -> ((s, dir) =>
      Fixtures.cachedDf("jaccard_pairs", dir) {
        Dedup.ngramJaccardPairsFromDocs(shingleDocs(s, dir), threshold = 0.8)
      }),

    // ----- D3: MinHash+LSH candidates + signature prescreen + exact-
    // Jaccard verification (the 100 TB path): total miss prob for a
    // t>=0.8 pair is ~1.4e-6, so the verified output equals the exact
    // all-pairs answer — oracle-checked against the same SQL as D2
    "d3_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshVerifiedPairsFromSigs(
        shingleDocs(s, dir), minhashSigs(s, dir), threshold = 0.8)),

    // ----- D4: SimHash near-dup pairs (hamming <= 3). The 60-bit
    // md5-derived token hash has an exact DuckDB twin, so the whole
    // pipeline (hash → per-bit majority → pigeonhole blocking → hamming
    // filter) is oracle-checked, not just row-counted
    "d4_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, nBits = 60, md560 = true)
        .select(col("a_id"), col("b_id"), col("hamming"))),

    // ----- FP2: winnowing (MOSS) near-dup pairs — LOCAL-overlap
    // fingerprinting (shared substrings >= w+k-1 chars), vs d2/d3's
    // global resemblance; md5-60-bit hash = exact DuckDB twin
    "fp2_winnowing" -> ((s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text")),

    // ----- D5: embedding-cosine near-dup pairs (exact baseline)
    "d5_embedding_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.47, exact = true)
        .select(col("a_id"), col("b_id"))),

    // ----- D6: dedup clusters — connected components over the exact
    // Jaccard pair graph (large-star/small-star; every doc gets the min
    // doc_id of its near-dup component as canonical_id)
    "d6_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // same builder composition as d2 — whichever runs first, the pair
      // graph, the shingle stage AND the connected-components fixpoint
      // (d10 reads the identical cluster map) are each built exactly once
      jaccardClusters(s, dir, docs)
    }),

    // ----- D10: canonical-corpus selection — one kept document per
    // near-dup cluster (best n_chars, tie -> smallest id); the step that
    // turns the d6 cluster map into the deduplicated training set
    "d10_canonical_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.canonicalDocsFromClusters(docs, "doc_id",
        jaccardClusters(s, dir, docs), "n_chars")
    }),

    // ----- D11: dedup-at-ingest — incremental batches filtered against
    // the PERSISTED MinHash band index (the streaming complement of
    // d1–d6: "keep the corpus deduplicated as it grows"); the index
    // probe is a broadcast of the micro-batch against a narrow
    // 3-column scan, never a corpus-wide pairwise job
    "d11_ingest_dedup" -> ((s, dir) => Fixtures.ingestDedupResult(s, dir)),

    // ----- DC1: benchmark decontamination — corpus docs sharing any word
    // 8-gram with the (broadcast) benchmark split are flagged with their
    // distinct-hit count; corpus side is a pure map-side probe, no
    // corpus-scale shuffle
    "dc1_decontaminate" -> ((s, dir) => {
      // both splits filter the d7-shared per-doc-distinct gram table —
      // the corpus word-8-grams explode once per bench pass
      val dg = docGram8(s, dir)
      Dedup.decontaminateFromGrams(
        dg.filter(col("doc_id") % 20 =!= 0),
        dg.filter(col("doc_id") % 20 === 0),
        "doc_id")
    }),

    // ----- DC2: FUZZY decontamination — corpus docs whose shingle
    // Jaccard vs any benchmark doc >= 0.8 (catches paraphrased
    // contamination dc1's exact-gram probe misses). MinHash banding only
    // ACROSS the corpus×benchmark split + exact verify, so the answer
    // equals the exact cross-split Jaccard the oracle computes (same
    // ~1e-6 miss budget as d3)
    "dc2_fuzzy_decontam" -> ((s, dir) => {
      // the same shared shingle AND signature stages d3 reads — the
      // corpus is shingled and minhash-signed once across the whole
      // dedup/decontamination family; the splits are filters of both
      val sh = shingleDocs(s, dir)
      val sg = minhashSigs(s, dir)
      Dedup.fuzzyDecontaminateFromSigs(
        sh.filter(col("id") % 20 =!= 0),
        sh.filter(col("id") % 20 === 0),
        sg.filter(col("id") % 20 =!= 0),
        sg.filter(col("id") % 20 === 0),
        "doc_id", threshold = 0.8)
    }),

    // ----- D7: cross-doc duplicated-n-gram stats (corpus-level
    // boilerplate/template signal — the across-documents companion to
    // ta6's within-doc repetition score)
    "d7_dup_ngrams" -> ((s, dir) =>
      Dedup.dupNGramStatsFromGrams(docGram8(s, dir), "doc_id")),

    // ----- D8: cross-doc duplicated-SPAN removal (Lee et al. dedup at
    // word-8-gram granularity): tokens inside any gram shared with
    // another document are dropped; unique prose survives
    "d8_remove_dup_spans" -> ((s, dir) =>
      Dedup.removeDupSpans(t(s, dir, "documents"), "doc_id", "text", n = 8)),

    // ----- D9: SemDeDup (Abbas et al. 2023) — semantic dedup over the
    // embedding space: coarse IVF clustering bounds the pairwise cosine
    // work to same-cluster pairs (n²/nlist, not corpus²); min-id
    // representative kept per duplicate group. The oracle replays the
    // deterministic first-nlist quantizer + in-cluster threshold exactly.
    "d9_semantic_dedup" -> ((s, dir) =>
      Dedup.semanticDedup(
        t(s, dir, "embeddings").filter(col("vec_id") =!= 0),
        "vec_id", "embedding", nlist = 16, threshold = 0.4, s)
        .select(col("id").as("vec_id"), col("cluster"), col("kept"))),

    // ----- J4: delta join — true stream-stream join (both sides micro-
    // batch file streams) with watermarks + a time-range predicate that
    // bounds the join state; equals the batch join since no row is late
    "j4_delta_join" -> ((s, dir) => Fixtures.deltaJoinResult(s, dir)),

    // ----- J6 (beyond the reference): temporal AS OF join — each view
    // event enriched with the user's latest purchase value at/before it
    "j6_asof_join" -> ((s, dir) => {
      val ev = Fixtures.eventsTyped(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
      graft.ops.AsOfJoin.asofJoin(views, purchases,
        Seq("user_id"), "ts", "ts")
    }),

    // ----- J7 (beyond the reference): bin-packed range join — views
    // inside the 15-minute window after any high-value purchase. Spark
    // would plan the raw theta-join as a broadcast nested loop (O(n·m));
    // the bin equi-join shuffles on the bucketed time domain instead
    "j7_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("v_event_id"), col("ts"))
      val promos = ev.filter(col("event_type") === "purchase" && col("value") > 150)
        .select(col("event_id").as("p_event_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 15 MINUTES")).as("w_end"))
      graft.ops.RangeJoin.pointInInterval(views, promos, "ts",
        "w_start", "w_end", binWidth = 15L * 60 * 1000000)
        .select(col("v_event_id"), col("p_event_id"))
    }),

    // ----- J8: interval-overlap join — promo windows that overlap error
    // bursts; each overlapping pair matched exactly once (first-shared-bin
    // dedup), no distinct pass
    "j8_interval_overlap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val promos = ev.filter(col("event_type") === "purchase" && col("value") > 150)
        .select(col("event_id").as("p_event_id"), col("ts").as("p_start"),
          (col("ts") + expr("INTERVAL 15 MINUTES")).as("p_end"))
      val errors = ev.filter(col("event_type") === "error" && col("value") > 200)
        .select(col("event_id").as("e_event_id"), col("ts").as("e_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("e_end"))
      graft.ops.RangeJoin.intervalOverlap(promos, errors,
        "p_start", "p_end", "e_start", "e_end", binWidth = 10L * 60 * 1000000)
        .select(col("p_event_id"), col("e_event_id"))
    }),

    // ----- SIM1: brute-force cosine top-k (exact baseline)
    "sim1_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
      Similarity.cosineTopK(emb.filter(col("vec_id") =!= 0), "vec_id",
        "embedding", q, k = 10).select(col("vec_id"))
    }),

    // ----- SIM4: exact kNN graph (top-3 cosine neighbors per vector)
    "sim4_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding", k = 3)),

    // ----- SIM5: ANN kNN graph — the scale path for sim4: LSH-blocked
    // candidate pairs (3 independent hyperplane tables), exact cosine +
    // top-k within candidates only; nothing broadcast, nothing all-pairs
    "sim5_knn_ann" -> ((s, dir) =>
      Similarity.knnGraphAnn(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3)),

    // ----- SIM2: LSH-bucketed ANN top-k (scale path; recall in test)
    "sim2_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
      Similarity.annTopKLsh(emb.filter(col("vec_id") =!= 0), "vec_id",
        "embedding", q, k = 10).select(col("vec_id"))
    }),

    // ----- SIM3: IVF coarse-quantizer top-k (scale path; recall in test)
    "sim3_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
      val (assigned, centroids) = Similarity.ivfAssign(emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", nlist = 16, s)
      Similarity.ivfTopK(assigned, centroids, "vec_id", "embedding", q,
        k = 10, nprobe = 4).select(col("vec_id"))
    }),

    // ----- SIM6: product-quantization ANN top-k — vectors compress to
    // m=8 4-bit codes (32× smaller than float[64]); the query builds an
    // ADC lookup table on the driver and the scan ranks rows with m array
    // lookups, never touching raw vectors (recall vs exact in test)
    // ----- SIM7: ANN through the PERSISTED IVF index — the same
    // coarse-quantize/probe/re-rank as sim3, but served from a durable
    // index table partitioned by list id: the probe is a PARTITION-PRUNED
    // scan of nprobe/nlist of the data, incrementally maintained from the
    // base table's changelog (core.VectorIndex; oracle = sim3's, since
    // the stored first-n-by-id quantizer materializes the identical
    // assignment)
    "sim7_ivf_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
      Fixtures.vecsIvf(s, dir).topK(q, k = 10, nprobe = 4)
        .select(col("vec_id"))
    }),

    "sim6_pq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
      Similarity.pqTopK(emb.filter(col("vec_id") =!= 0), "vec_id",
        "embedding", q, k = 10)
    }),

    // ----- SIM8: ANN through the persisted IVF-PQ index — sim7's
    // partition-pruned probe, but the scan ranks the STORED m=8 PQ codes
    // by ADC (raw vectors untouched), then exactly re-ranks only the
    // top-30 candidates. At 100 TB the hot scan is m bytes/vector of
    // nprobe/nlist partitions — the index that fits the page cache
    "sim8_ivfpq_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
      Fixtures.vecsIvfPq(s, dir).topKAdc(q, k = 10, nprobe = 4, cand = 30)
    }),

    // ----- TA1: token counting (whitespace + BPE-ish segmenter)
    "ta1_text_stats" -> ((s, dir) => {
      val d = TextAnalysis.widen(t(s, dir, "documents"))
      d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
        length(col("text")).as("n_chars"))
    }),

    // ----- TA2: language id (stopword/CJK heuristic)
    "ta2_langid" -> ((s, dir) =>
      TextAnalysis.widen(t(s, dir, "documents")).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),

    // ----- TA3: quality scoring
    "ta3_quality" -> ((s, dir) =>
      TextAnalysis.widen(t(s, dir, "documents")).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),

    // ----- H9: global quality deciles — exact NTILE(10) via the
    // two-level scan (the generic form behind ta19's CCNet buckets);
    // the fixed-order quality arithmetic is bit-identical cross-engine,
    // so the decile ASSIGNMENT hash-matches
    "h9_quality_deciles" -> ((s, dir) =>
      Sampling.ntileExact(
        docScores(s, dir).select(col("doc_id"), col("quality")),
        "doc_id", "quality", 10, out = "decile")),

    // ----- FP1: document fingerprint (collision-free on corpus == oracle)
    "fp1_fingerprint" -> ((s, dir) =>
      TextAnalysis.widen(t(s, dir, "documents"))
        .agg(countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_distinct"))),

    // ----- TA4: deterministic stratified sampling (data mixing — md5
    // membership, so the exact selected set is engine-reproducible)
    "ta4_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.75), defaultRate = 0.25)
        .select(col("doc_id"), col("lang"))),

    // ----- TA18: weight-proportional sample without replacement (A-ES:
    // rank by u^(1/w), u deterministic from md5(id)) — length-weighted
    // corpus draw, exactly k rows, engine/partitioning-reproducible
    "ta18_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars",
        k = 120).select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"))),

    // ----- TA5: PII detection — per-doc email/phone counts plus the
    // length after length-preserving email redaction (the scrub stage a
    // training pipeline runs first; patterns shared verbatim with the
    // oracle so Java regex and DuckDB RE2 agree)
    "ta5_pii" -> ((s, dir) =>
      TextAnalysis.widen(t(s, dir, "documents")).select(col("doc_id"),
        TextAnalysis.piiEmails(col("text")).as("n_emails"),
        TextAnalysis.piiPhones(col("text")).as("n_phones"),
        length(TextAnalysis.redactEmails(col("text"))).as("redacted_len"))),

    // ----- TA6: repetition score — 1 - distinct/total word 3-grams
    // (Gopher/RefinedWeb-style repetitiousness quality signal)
    "ta6_repetition" -> ((s, dir) =>
      TextAnalysis.widen(t(s, dir, "documents")).select(col("doc_id"),
        TextAnalysis.repetitionScore(col("text")).as("repetition"))),

    // ----- TA7: token-budget shard packing — global running-sum shard
    // assignment via the two-level scan (range partition + local cumsum +
    // per-partition offset join), never a single-task global window
    "ta7_token_shards" -> ((s, dir) =>
      Sampling.packTokenShards(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 10000L)),

    // ----- TA9: deterministic corpus shuffle — reproducible global
    // training order by md5(id), two-level scan (no single-task window)
    "ta9_shuffle" -> ((s, dir) =>
      Sampling.shufflePositions(t(s, dir, "documents"), "doc_id")),

    // ----- TA10: sequence packing — fixed-2048-token training sequences
    // spanning documents; output is the (doc, seq) span map
    "ta10_seq_pack" -> ((s, dir) =>
      Sampling.packSequences(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", seqLen = 2048L)),

    // ----- TA8: corpus-statistics token rarity (unigram-LM-style quality
    // filter: explode → vocab count → join back → per-doc aggregate)
    "ta8_token_rarity" -> ((s, dir) =>
      TextAnalysis.tokenRarityFromTf(tokenTf(s, dir), "doc_id")),

    // ----- TA11: budget-constrained quality selection — keep the global
    // top 10% of docs by quality score (two-level scan: no single-task
    // global ranking window at any corpus size)
    "ta11_top_fraction" -> ((s, dir) =>
      Sampling.selectTopFraction(
        docScores(s, dir).select(col("doc_id"), col("quality")),
        "doc_id", "quality", frac = 0.1)),

    // ----- TA12: token-budget corpus fill — highest-quality docs first
    // until 25% of the corpus's tokens are spent (the greedy step that
    // turns per-doc scores into a fixed-size training corpus)
    "ta12_budget_fill" -> ((s, dir) =>
      Sampling.selectByTokenBudgetFraction(
        docScores(s, dir).select(col("doc_id"), col("quality"),
          col("n_tokens")),
        "doc_id", "quality", "n_tokens", frac = 0.25)),

    // ----- MIX2: epoch-style domain upsampling — repeat factors > 1
    // (2.25 epochs of en, 1.5 of zh, 0.5 of the rest), per-row explode,
    // no shuffle
    "mix2_epoch_mix" -> ((s, dir) =>
      Sampling.upsampleDomains(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("en" -> 2.25, "zh" -> 1.5), defaultRate = 0.5)),

    // ----- CH1: context-window chunking (overlapping token windows,
    // per-row array ops only — no shuffle at any corpus size)
    "ch1_chunk_windows" -> ((s, dir) =>
      TextAnalysis.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 64, stride = 48)),

    // ----- MIX1: temperature-based domain mixing (alpha = 0.5 keep-rates
    // computed from the data, broadcast onto the scan, md5 membership;
    // lang is the skewed axis in the corpus — en is downsampled ~0.54,
    // the low-resource languages are kept whole)
    "mix1_temperature" -> ((s, dir) =>
      Sampling.temperatureMix(t(s, dir, "documents"), "doc_id", "lang")),

    // ----- PIPE1: the composed cleaning pipeline — PII-redact → language
    // filter → quality filter → exact dedup (min-id keeper) → token
    // count → token-budget shard packing, end to end as ONE plan. Every
    // stage is an operator with its own oracle-checked query; this query
    // checks that they compose (filters stay pushable, the dedup is one
    // aggregate + semi-join, packing keeps the two-level scan shape).
    "pipe1_clean_corpus" -> ((s, dir) => {
      // ONE projection computes the redacted text, the language id and
      // the quality score side by side, then materializes (eager
      // localCheckpoint) BEFORE the filters. Filtering first looks
      // cheaper (fewer rows materialized) but costs more: Catalyst
      // substitutes the alias into the pushed-down filters, so the
      // regexp_replace + the ~6 tokenize passes inside langId/quality
      // re-run per FILTER and once more in the projection, and the two
      // pipeline consumers (keeper aggregate, semi-join probe) can't
      // share any of it. Here every expensive scalar expression runs
      // exactly once per document (subexpression elimination shares the
      // tokenize across the three output columns), and the filters are
      // column references over the cached table — and a real pipeline
      // persists its scored corpus before dedup anyway.
      val enriched = TextAnalysis.widen(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextAnalysis.redactEmails(col("text")).as("text"))
        .select(col("doc_id"), col("text"),
          TextAnalysis.langId(col("text")).as("__lang"),
          TextAnalysis.qualityScore(col("text")).as("__q"))
        .localCheckpoint()
      val clean = enriched
        .filter(col("__lang") === "en" && col("__q") >= 0.5)
        .select(col("doc_id"), col("text"))
      // keeper key = fixed-width digest pair of the normalized text (not
      // the body): the exchange ships 24 bytes/row instead of the document
      val normed = TextAnalysis.normalize(col("text"))
      val keep = clean
        .groupBy(xxhash64(normed).as("__h64"), unhex(md5(normed)).as("__h128"))
        .agg(min(col("doc_id")).as("doc_id"))
      val kept = clean.join(keep.select(col("doc_id")), Seq("doc_id"), "left_semi")
      Sampling.packTokenShards(
        kept.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 8000L)
    }),

    // ----- PIPE2: the corpus-SELECTION pipeline composed end-to-end —
    // Gopher rule filter → quality score → per-source top-k cap (salted,
    // skew-safe) → token-shard packing; the shape that turns raw crawl
    // into a training mix
    "pipe2_select_corpus" -> ((s, dir) => {
      // rule filter + quality scoring + per-source cap shared with pipe3
      // (and the quality/token pass itself with ta11/ta12/ta15) via the
      // cross-query cache — built once per bench pass
      val capped = pipeCapped(s, dir)
      Sampling.packTokenShards(capped.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", budget = 10000L)
        .join(capped.select(col("doc_id"), col("source"), col("quality"),
          col("rank")), Seq("doc_id"))
    }),

    // ----- PIPE3: corpus -> MATERIALIZED training shards, end to end:
    // rule filter -> per-source quality cap -> hive-partitioned shard
    // write (one dir per shard) -> the manifest a training job checks.
    // The manifest (shard, n_docs, n_tokens) read BACK from the written
    // tree IS the output: the shard rule is the deterministic ta7
    // running-sum assignment, so the oracle replays it in SQL and the
    // write path itself is under the hash gate (layout also pinned by
    // SamplingSessionsSpec)
    "pipe3_write_shards" -> ((s, dir) => {
      // same shared selection prefix as pipe2 (cross-query cache)
      val capped = pipeCapped(s, dir).select("doc_id", "n_tokens")
      // path derived from the input dir: concurrent harness runs on one
      // machine must not overwrite each other's shard tree mid-read
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_pipe3_shards_" + Integer.toHexString(dir.hashCode)).getPath
      Sampling.writeTokenShards(capped, "doc_id", "n_tokens",
        budget = 10000L, out)
    }),

    // ----- T8: streaming exact dedup — dropDuplicatesWithinWatermark
    // over the event stream (idempotent ingest; state bounded by the
    // watermark, key set equals batch DISTINCT)
    "t8_stream_dedup" -> ((s, dir) => Fixtures.streamDedupResult(s, dir)),

    // ----- T9: continuous derived aggregate view — the source PK table's
    // changelog (with -U/+U retractions) folded into a downstream
    // Aggregation-merge table across two commits; view state equals the
    // batch aggregate of the final source state (Flink continuous-query
    // semantics in micro-batch form)
    "t9_agg_view" -> ((s, dir) => Fixtures.aggViewResult(s, dir)),

    // ----- T7: sessionization via native session_window (30-min gap)
    "t7_sessionize" -> ((s, dir) =>
      Sessions.sessionize(Fixtures.eventsTyped(s, dir), "user_id", "ts",
        "value", "30 minutes")
        .withColumn("session_value",
          col("session_value").cast(DecimalType(18, 6)))),

    // ----- P5: PK point-query rewrite — the optimizer rule derives the
    // murmur bucket from the PK literal and partition-prunes the log scan
    "p5_point_rewrite" -> ((s, dir) => {
      graft.plans.BucketPruning.install(s)
      Fixtures.usersLww(s, dir).scan().filter(col("user_id") === 7L)
    }),

    // ----- T1: startup mode `timestamp` — per-bucket timestamp→offset
    // resolution, read from the resolved offsets onward
    "t1_startup_timestamp" -> ((s, dir) => {
      val (tbl, split) = Fixtures.lineitemTwoCommits(s, dir)
      tbl.scanFromTimestamp(split)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }),

    // ----- A7: auto-increment column — contiguous commit-assigned ids
    "a7_auto_increment" -> ((s, dir) =>
      Fixtures.eventsAutoInc(s, dir).scan().agg(
        count(lit(1)).as("n"),
        countDistinct(col("row_id")).as("n_ids"),
        min(col("row_id")).as("min_id"),
        max(col("row_id")).as("max_id"))),

    // ----- S7: lake-tiered union read — snapshot ∪ log tail sort-merge
    "s7_union_read" -> ((s, dir) => Fixtures.usersLwwCompacted(s, dir).scan()),

    // ----- §2.8: bitmap scalar functions (rb_build/rb_to_array/rb_contains)
    "f3_rb_scalar" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(Bitmaps.rbBuild(collect_list(col("user_id"))).as("bm"))
        .select(col("event_type"),
          size(Bitmaps.rbToArray(col("bm"))).cast("long").as("n_users"),
          Bitmaps.rbContains(col("bm"), lit(7L)).as("has_user7"))),

    // ----- H1: engine-supplied relational layer at scale — fact-fact
    // shuffle join (lineitem ⋈ orders on orderkey) + broadcast dim
    // (customer), one hash aggregation
    "h1_segment_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      // NOTE (measured, round 17): pre-aggregating lineitem by
      // l_orderkey before this join (the h4 Expand treatment) was tried
      // and REVERTED — the added exchange+aggregate (600 k rows, 150 k
      // groups) costs more than the smaller join saves (A/B: 0.93 s →
      // 1.11 s isolated); the fact-side rows here are narrow enough that
      // the SMJ is not the bottleneck.
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).as("revenue"))
    }),

    // ----- H2: star join — fact + 3 broadcast dims, filter on the
    // outermost dim (region) pushed before the aggregate
    "h2_nation_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("revenue"))
    }),

    // ----- §4 row-level ops: DELETE WHERE / UPDATE SET through the merge
    // path (reference: SupportsDeletePushDown / RowLevelUpdate)
    "rl1_row_level_ops" -> ((s, dir) => Fixtures.usersRowLevel(s, dir).scan()),

    // ----- RL2 (beyond the reference): MERGE INTO — per-source-row
    // update/delete/insert decided in ONE join against current state,
    // applied as one mixed merge batch
    "rl2_merge_into" -> ((s, dir) => Fixtures.usersMerged(s, dir).scan()),

    // ----- RL3/RL4 (beyond the reference): the SAME row-level semantics
    // through PLAIN SQL — UPDATE and MERGE INTO ride Spark's delta-based
    // row-level framework (SupportsRowLevelOperations/SupportsDelta);
    // the delta applies as one atomic mixed merge commit
    "rl3_sql_update" -> ((s, dir) => {
      val cat = Fixtures.rowLevelSqlCatalog(s, dir)
      s.sql(s"""SELECT user_id, event_type, CAST(value AS DOUBLE) AS value
        FROM $cat.db.users_rl WHERE event_type = 'purchase'""")
    }),
    "rl4_sql_merge" -> ((s, dir) => {
      val cat = Fixtures.rowLevelSqlCatalog(s, dir)
      s.sql(s"""SELECT user_id, event_type, CAST(value AS DOUBLE) AS value
        FROM $cat.db.users_rl""")
    }),

    // ----- T3 + ChangelogImage.WAL: -U before-images suppressed
    "t3_changelog_wal" -> ((s, dir) =>
      Fixtures.usersLwwWal(s, dir).changelog()
        .select(col("_change_type"), col("user_id"), col("ts"), col("value"))),

    // ----- A8: table stats (row count)
    "a8_table_stats" -> ((s, dir) => Fixtures.usersLww(s, dir).stats()),

    // ----- A5 variant: every remaining aggregate function of the 13
    // (min, product, first_value[_ignore_nulls], last_value_ignore_nulls,
    // bool_and, bool_or, rb64-as-cardinality)
    "a5_all_functions" -> ((s, dir) =>
      Fixtures.userAllFns(s, dir).scan()
        .withColumn("seen_card",
          graft.functions.Bitmaps.rbCardinality(col("seen")))
        .drop("seen")),

    // ----- S11: the DSv2 catalog connector — DDL + INSERT INTO + SELECT
    // all through plain Spark SQL against a registered GraftCatalog
    "c1_catalog_sql" -> ((s, dir) => {
      val cat = Fixtures.sqlCatalog(s, dir)
      s.sql(s"SELECT user_id, total_value, max_ts FROM $cat.db.user_totals")
    }),

    // ----- A6 variant: count(*) answered from the offset manifest, no scan
    "a6_count_offsets" -> ((s, dir) => {
      val n = Fixtures.lineitemLog(s, dir).fastCount
      import s.implicits._
      Seq(n).toDF("cnt")
    }),

    // ----- §2.5: engine-supplied window functions (top-2 orders per
    // customer; partitioned rank, no global sort)
    "h3_window_rank" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
    }),

    // ----- §2.4 note: grouping sets / rollup from Catalyst
    "h4_rollup" -> ((s, dir) => {
      // aggregate BEFORE the Expand (guide §2.3, round 17): rollup's
      // Expand triples its input rows ahead of the partial aggregate, so
      // pre-aggregating by the full grouping key first (a handful of
      // (flag, status) cells) makes Expand + rollup run over cells, not
      // the corpus. Exact: count = sum of cell counts, sum = sum of cell
      // sums (decimal addition exact), null grouping values group
      // identically at every rollup level in both forms; the cast pins
      // the original Decimal(28,2) output type (oracle-gated).
      val cells = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("__n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("__q"))
      cells.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__n")).as("n"),
          sum(col("__q")).cast(DecimalType(28, 2)).as("sum_qty"))
    }),

    // ----- H5: ordered conversion funnel over the event stream — one
    // shuffle (all step mins chain over the same partitionBy(user))
    "h5_funnel" -> ((s, dir) =>
      Sessions.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"))),

    // ----- H6: weekly cohort retention triangle — events collapse
    // map-side to distinct (user, week) before any join
    "h6_retention" -> ((s, dir) =>
      Sessions.retention(t(s, dir, "events"), "user_id", "ts")),

    // ----- H7: exact global quantiles without a single-task sort —
    // two-level scan order statistics (range partition + local ranks +
    // broadcast prefix counts); Spark's own exact percentile would
    // buffer the full column in one executor
    "h7_quantiles" -> ((s, dir) =>
      graft.ops.Quantiles.exactQuantiles(t(s, dir, "lineitem"),
        "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.95))),

    // ----- H8: per-group exact quantiles — one keyed shuffle; rank and
    // group-count windows share the exchange
    "h8_group_quantiles" -> ((s, dir) =>
      graft.ops.Quantiles.groupedQuantiles(t(s, dir, "orders"),
        "o_orderpriority", "o_totalprice", Seq(0.5, 0.95))),

    // ----- F4: theta-sketch distinct estimate (deterministic md5
    // membership, so the ESTIMATE itself is oracle-checkable — unlike
    // engine-specific HLL register layouts)
    "f4_theta_distinct" -> ((s, dir) =>
      Sampling.thetaDistinct(t(s, dir, "orders"), "o_custkey")),

    // ----- TA13: Gopher/C4 rule-based quality filter — per-rule audit
    // flags plus the combined keep decision, at scan speed
    "ta13_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        minWords = 20)),

    // ----- TA14: DSIR importance scores (Xie et al. 2023) — hashed
    // n-gram log importance weights of each doc against a target subset
    // (here: every 10th doc as the "target distribution"). n_grams is an
    // exact integer cross-check; the double score is rounded to 6 dp in
    // both engines (log is the one transcendental the oracle can't
    // replay bit-for-bit).
    "ta14_dsir" -> ((s, dir) =>
      TextAnalysis.dsirScore(t(s, dir, "documents"), "doc_id", "text",
        targetCol = col("doc_id") % 10 === 0, buckets = 4096)
        .withColumn("dsir_score", round(col("dsir_score"), 6))),

    // ----- TA15: per-source document cap (crawl-pipeline "at most N pages
    // per domain") — salted local prune bounds the per-group shuffle at
    // k·salts rows no matter how skewed the domain is
    "ta15_source_cap" -> ((s, dir) =>
      Sampling.capPerGroup(
        docScores(s, dir).select(col("doc_id"), col("source"),
          col("quality")),
        "doc_id", "source", "quality", k = 20)),

    // ----- TA16: CCNet-style unigram-LM NLL/token (head/middle/tail
    // perplexity bucketing signal); rounded to 6 dp in both engines
    // (the NLL table is shared with ta19's bucketing via the cross-query
    // cache — one corpus tokenize + vocabulary join per bench pass)
    "ta16_unigram_nll" -> ((s, dir) =>
      Fixtures.cachedDf("unigram_nll", dir) {
        TextAnalysis.unigramNllFromTf(tokenTf(s, dir), "doc_id")
      }.withColumn("unigram_nll", round(col("unigram_nll"), 6))),

    // ----- TA21: interpolated bigram-LM NLL/token — the CCNet-style
    // perplexity signal one order up from ta16 (corpus-MLE bigram +
    // unigram backoff, λ = 0.7); counts exact, score rounded to 6 dp in
    // both engines
    "ta21_bigram_nll" -> ((s, dir) =>
      TextAnalysis.bigramNll(t(s, dir, "documents"), "doc_id", "text",
        lambda = 0.7)
        .withColumn("bigram_nll", round(col("bigram_nll"), 6))),

    // ----- TA22: PII redaction — the transform downstream of ta5's
    // counters: emails/phones masked with <EMAIL>/<PHONE>, counts kept
    // for audit; patterns shared verbatim with the oracle
    "ta22_redact_pii" -> ((s, dir) =>
      TextAnalysis.redactPii(t(s, dir, "documents"), "doc_id", "text")),

    // ----- TA17: domain-balanced training order — every source spread
    // uniformly through the global order (no all-one-domain batches),
    // deterministic and engine-reproducible like ta9
    "ta17_balanced_order" -> ((s, dir) =>
      Sampling.balancedPositions(t(s, dir, "documents"), "doc_id", "source")),

    // ----- MIX3: cluster-balanced sampling — k-means over embeddings,
    // deterministic per-cluster cap (semantic-diversity rebalancing).
    // The k-means centroids are captured post-run and embedded in a
    // GENERATED oracle (the sim2/sim3 index-constant pattern), so the
    // assignment + cap replay hash-exactly in DuckDB; balance and
    // determinism are additionally pinned by PipelineSpec
    "mix3_cluster_balance" -> ((s, dir) => {
      val (df, cens) = Similarity.clusterBalancedSampleWithCentroids(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        nlist = 8, perCluster = 40)
      mix3Centroids = Some(cens)
      df
    }),

    // ----- TA20: per-doc token entropy — lexical-diversity quality
    // signal; per-doc statistic only (no corpus vocabulary join), exact
    // modulo the 6-dp rounding both engines apply
    "ta20_token_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropyFromTf(tokenTf(s, dir), "doc_id")
        .withColumn("token_entropy", round(col("token_entropy"), 6))),

    // ----- BPE1: tokenizer induction + segmentation, HASH-VERIFIED via
    // a generation-time-oracle corpus (the mm3/mm4 trick): each doc
    // contributes ONE two-char word over a class-disjoint alphabet
    // (class c = doc_id % 8 → word chr(97+2c)·chr(98+2c)), so BPE's
    // greedy loop is analytically forced — pair counts ARE the class
    // frequencies (2-char words share no symbols, merging one creates
    // no new pairs), the merge order is exactly (count desc, left asc),
    // and the encoder emits 1 subword for merged classes, 2 otherwise.
    // The REAL trainer runs (distributed loop forced via
    // driverVocabLimit=0) and the real encoder segments every doc; only
    // the corpus is synthetic. Free-text induction (iterative argmax,
    // not SQL-expressible) stays cross-checked against a naive
    // reference implementation in BpeSpec.
    "bpe1_tokenize" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        expr("char(97 + (doc_id % 8) * 2)").as("__l"),
        concat(expr("char(97 + (doc_id % 8) * 2)"),
          expr("char(98 + (doc_id % 8) * 2)")).as("text"))
      val mergesDf = Bpe.train(corpus, "text", numMerges = 8,
        driverVocabLimit = 0L)
        .select(col("rank").cast("long").as("rank"),
          col("left"), col("right"), col("pair_count"))
      val learned = mergesDf.collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.encodeStats(corpus, "doc_id", "text", learned)
        .join(corpus.select(col("doc_id"), col("__l")), Seq("doc_id"))
        .join(broadcast(mergesDf), col("__l") === mergesDf("left"), "left")
        .select(col("doc_id"), col("n_subwords"), col("rank"),
          col("pair_count"))
    }),

    // ----- TA19: CCNet head/middle/tail perplexity buckets — exact
    // NTILE(3) on the (rounded) unigram NLL via the two-level scan, no
    // single-task window; the rounded score makes the ORDER itself
    // engine-reproducible, so the bucket assignment hash-matches
    "ta19_ppl_buckets" -> ((s, dir) => {
      val nll = Fixtures.cachedDf("unigram_nll", dir) {
          TextAnalysis.unigramNllFromTf(tokenTf(s, dir), "doc_id")
        }
        .select(col("doc_id"), round(col("unigram_nll"), 6).as("unigram_nll"))
      Sampling.ntileExact(nll, "doc_id", "unigram_nll", 3, out = "__b")
        .select(col("doc_id"), col("unigram_nll"),
          when(col("__b") === 1, "head").when(col("__b") === 2, "middle")
            .otherwise("tail").as("ppl_bucket"))
    }),

    // ----- T6/S1: streaming upsert — events streamed in micro-batches
    // through the exactly-once sink into an AGGREGATION PK table
    "t6_stream_agg" -> ((s, dir) => Fixtures.streamAggTable(s, dir).scan()),

    // ----- T5: windowed aggregation (engine-side, tumbling 1 day)
    "t5_window_agg" -> ((s, dir) =>
      Fixtures.eventsTyped(s, dir)
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("window.start").as("wstart"), col("n"), col("sum_value"))),

    // ----- MM1: multimodal binary plumbing (pack + frame-sample)
    "mm1_multimodal" -> ((s, dir) => {
      val media = Multimodal.packAsMedia(t(s, dir, "documents"), "doc_id", "text")
      val frames = Multimodal.frameSample(media, frameBytes = 64, stride = 2)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
      media.select(col("media_id"), col("meta.n_bytes").as("n_bytes"))
        .join(frames, Seq("media_id"))
    }),

    // ----- MM2: the full media pipeline — pack → resize (nearest-neighbor
    // byte resample) → feature-extract (stubbed decode); oracle checks the
    // plumbing shape (byte lengths, feature dimensionality), the spec pins
    // the stub's float values
    "mm2_media_pipeline" -> ((s, dir) => {
      val media = Multimodal.packAsMedia(t(s, dir, "documents"), "doc_id", "text")
      val resized = Multimodal.resizeMedia(media, targetBytes = 32)
      Multimodal.extractFeatures(resized, dim = 8)
        .select(col("media_id"), col("meta.n_bytes").as("n_resized"),
          size(col("features")).cast("long").as("n_features"))
    }),

    // ----- MM3: REAL image codec — genuine PNGs (seeded per doc)
    // decoded/resized/featurized through javax.imageio; HASH-verified
    // against the generation-time analytic oracle (the media is drawn
    // from the seed by a closed formula and PNG round-trips losslessly,
    // so the expected features are pure math — mm3Mm4Oracle below)
    "mm3_image_codec" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .orderBy("doc_id").limit(256)
      mm3Ids = Some(docs.collect().map(_.getLong(0)))
      val media = Multimodal.packSyntheticImages(docs, "doc_id")
      val small = Multimodal.resizeImages(media, 8, 8)
      Multimodal.imageFeatures(small, gridW = 2, gridH = 2)
        .select(col("media_id"), col("decoded"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          round(aggregate(col("features"), lit(0.0d),
            (acc, x) => acc + x.cast("double")), 4).as("lum_sum"))
    }),

    // ----- MM4: REAL audio codec — seeded sine WAVs decoded through
    // javax.sound.sampled; windowed RMS energy. HASH-verified against
    // the generation-time analytic oracle (sine synthesis is a closed
    // formula and WAV is raw PCM — mm3Mm4Oracle below)
    "mm4_audio_codec" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .orderBy("doc_id").limit(128)
      mm4Ids = Some(docs.collect().map(_.getLong(0)))
      val media = docs.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          org.apache.spark.sql.Row(id,
            Multimodal.syntheticWav(millis = 100, seed = id.toInt))
        }
      }(org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("media_id", LongType), StructField("media", BinaryType)))))
      Multimodal.audioFeatures(media, windows = 4)
        .select(col("media_id"), col("decoded"), col("sample_rate"),
          round(col("duration_ms"), 2).as("duration_ms"),
          round(aggregate(col("energy"), lit(0.0d),
            (acc, x) => acc + x.cast("double")), 4).as("energy_sum"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * The sim2/sim3 oracles are *generated*: the LSH hyperplanes and the
    * IVF probe logic are deterministic index metadata, so the SQL embeds
    * the exact plane constants (via [[Similarity.planesFor]]) and DuckDB
    * replicates bucketing + exact re-rank bit-for-bit — a full oracle for
    * the ANN operators, not a weaker rows-only check.
    */
  private def sqlArr(p: Array[Double]): String = p.mkString("[", ",", "]")

  private lazy val sim2OracleSql: String = {
    // mirrors annTopKLsh defaults: planes=10, maxBitDiff=2, seed=42, dim=64
    val ps = Similarity.planesFor(64, 10, 42L)
    def sigExpr(v: String): String = ps.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($v, ${sqlArr(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT e FROM v WHERE vec_id = 0),
       |s AS (SELECT v.vec_id, v.e, ${sigExpr("v.e")} AS sig FROM v WHERE vec_id <> 0),
       |qs AS (SELECT ${sigExpr("q.e")} AS sig FROM q)
       |SELECT s.vec_id FROM s, q, qs
       |WHERE bit_count(xor(s.sig, qs.sig)) <= 2
       |ORDER BY list_dot_product(s.e, q.e)
       |  / (sqrt(list_dot_product(s.e, s.e)) * sqrt(list_dot_product(q.e, q.e))) DESC,
       |  s.vec_id
       |LIMIT 10""".stripMargin
  }

  private lazy val sim3OracleSql: String =
    // mirrors ivfAssign(nlist=16) + ivfTopK(k=10, nprobe=4): centroids are
    // the first 16 vectors by id; assignment = argmax centroid cosine
    // (ties -> larger index, like Spark's greatest(struct)); probe lists =
    // top-4 centroids by query cosine (ties -> smaller index, like the
    // stable sortBy); exact top-10 within the probed lists
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT e FROM v WHERE vec_id = 0),
      |nz AS (SELECT vec_id, e FROM v WHERE vec_id <> 0),
      |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, e
      |      FROM (SELECT vec_id, e FROM nz ORDER BY vec_id LIMIT 16)),
      |asg AS (
      |  SELECT vec_id, i FROM (
      |    SELECT nz.vec_id, c.i, row_number() OVER (PARTITION BY nz.vec_id ORDER BY
      |      list_dot_product(nz.e, c.e)
      |        / (sqrt(list_dot_product(nz.e, nz.e)) * sqrt(list_dot_product(c.e, c.e)))
      |      DESC, c.i DESC) AS rn
      |    FROM nz CROSS JOIN c) WHERE rn = 1),
      |pl AS (
      |  SELECT i FROM (
      |    SELECT c.i, row_number() OVER (ORDER BY
      |      list_dot_product(c.e, q.e)
      |        / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(q.e, q.e)))
      |      DESC, c.i ASC) AS rn
      |    FROM c, q) WHERE rn <= 4)
      |SELECT nz.vec_id
      |FROM nz JOIN asg USING (vec_id) JOIN pl ON asg.i = pl.i, q
      |ORDER BY list_dot_product(nz.e, q.e)
      |  / (sqrt(list_dot_product(nz.e, nz.e)) * sqrt(list_dot_product(q.e, q.e))) DESC,
      |  nz.vec_id
      |LIMIT 10""".stripMargin

  private lazy val sim5OracleSql: String = {
    // mirrors knnGraphAnn defaults: k=3, planes=8, tables=3, seed=42,
    // dim=64 — the three plane sets are embedded as literals, so DuckDB
    // replicates bucketing, candidate union and exact re-rank bit-for-bit
    val sigs = (0 until 3).map { tb =>
      val ps = Similarity.planesFor(64, 8, 42L + tb)
      ps.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product(e, ${sqlArr(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    }
    // multi-probe: same-bucket OR one bit apart. The Spark side explodes
    // probes for a keyed join; the oracle can afford the all-pairs
    // hamming form (like d4's oracle) — identical answer by construction.
    val cands = (0 until 3).map { tb =>
      s"SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM s a JOIN s b " +
        s"ON bit_count(xor(a.s$tb, b.s$tb)) <= 1 AND a.vec_id <> b.vec_id"
    }.mkString("\n  UNION\n  ")
    s"""WITH v AS (SELECT vec_id, e FROM (
       |    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |  WHERE list_dot_product(e, e) > 0),
       |s AS (SELECT vec_id,
       |  ${(0 until 3).map(tb => s"${sigs(tb)} AS s$tb").mkString(",\n  ")}
       |  FROM v),
       |cand AS (
       |  $cands),
       |scored AS (
       |  SELECT c.a_id, c.b_id, list_dot_product(a.e, b.e)
       |    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos
       |  FROM cand c JOIN v a ON c.a_id = a.vec_id JOIN v b ON c.b_id = b.vec_id)
       |SELECT a_id AS vec_id, b_id AS neighbor_id, rank FROM (
       |  SELECT a_id, b_id,
       |    row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rank
       |  FROM scored) WHERE rank <= 3""".stripMargin
  }

  private lazy val sim6OracleSql: String =
    // mirrors pqTopK(m=8, ksub=16, k=10): codebook = subvectors of the
    // first 16 vectors by id (the deterministic ivfAssign-style sampling);
    // encode = argmin of the reduced distance cc - 2·v_sub·c (ties -> the
    // smaller centroid index, like Spark's least(struct)); ADC = the sum
    // over subspaces of the same reduced distance against the query.
    // list(… ORDER BY j) + list_sum fixes the summation order so the
    // doubles match Spark's left-to-right reduce bit-for-bit.
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id <> 0),
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 0),
      |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, e
      |       FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
      |sub AS (SELECT j FROM generate_series(0, 7) t(j)),
      |cbs AS (SELECT cb.i, sub.j, cb.e[sub.j*8+1 : sub.j*8+8] AS c,
      |               list_dot_product(cb.e[sub.j*8+1 : sub.j*8+8],
      |                                cb.e[sub.j*8+1 : sub.j*8+8]) AS cc
      |        FROM cb CROSS JOIN sub),
      |enc AS (
      |  SELECT v.vec_id, cbs.j, cbs.i, cbs.c, cbs.cc,
      |    row_number() OVER (PARTITION BY v.vec_id, cbs.j ORDER BY
      |      cbs.cc - 2 * list_dot_product(v.e[cbs.j*8+1 : cbs.j*8+8], cbs.c) ASC,
      |      cbs.i ASC) AS rn
      |  FROM v CROSS JOIN cbs),
      |codes AS (SELECT vec_id, j, i, c, cc FROM enc WHERE rn = 1),
      |adc AS (
      |  SELECT codes.vec_id,
      |    list_sum(list(codes.cc - 2 * list_dot_product(q.e[codes.j*8+1 : codes.j*8+8],
      |                                                  codes.c)
      |                  ORDER BY codes.j)) AS d
      |  FROM codes, q GROUP BY codes.vec_id)
      |SELECT vec_id FROM adc ORDER BY d ASC, vec_id LIMIT 10""".stripMargin

  private lazy val sim8OracleSql: String =
    // mirrors the persisted IVF-PQ probe (nlist=16, nprobe=4, m=8,
    // ksub=16, cand=30, k=10): coarse centroids AND the PQ codebook both
    // come from the first 16 vectors by id (cen serves both roles);
    // assignment/probe-list ties follow sim3's conventions, encode/ADC
    // follow sim6's (list(… ORDER BY j) pins the double summation order
    // to Spark's left-to-right reduce); candidates = top-30 by ADC within
    // the probed lists; answer = exact cosine re-rank of the candidates
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT e FROM v WHERE vec_id = 0),
      |nz AS (SELECT vec_id, e FROM v WHERE vec_id <> 0),
      |cen AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, e
      |        FROM (SELECT vec_id, e FROM nz ORDER BY vec_id LIMIT 16)),
      |asg AS (
      |  SELECT vec_id, i FROM (
      |    SELECT nz.vec_id, cen.i, row_number() OVER (PARTITION BY nz.vec_id ORDER BY
      |      list_dot_product(nz.e, cen.e)
      |        / (sqrt(list_dot_product(nz.e, nz.e)) * sqrt(list_dot_product(cen.e, cen.e)))
      |      DESC, cen.i DESC) AS rn
      |    FROM nz CROSS JOIN cen) WHERE rn = 1),
      |pl AS (
      |  SELECT i FROM (
      |    SELECT cen.i, row_number() OVER (ORDER BY
      |      list_dot_product(cen.e, q.e)
      |        / (sqrt(list_dot_product(cen.e, cen.e)) * sqrt(list_dot_product(q.e, q.e)))
      |      DESC, cen.i ASC) AS rn
      |    FROM cen, q) WHERE rn <= 4),
      |pv AS (SELECT nz.vec_id, nz.e
      |       FROM nz JOIN asg USING (vec_id) JOIN pl ON asg.i = pl.i),
      |sub AS (SELECT j FROM generate_series(0, 7) t(j)),
      |cbs AS (SELECT cen.i, sub.j, cen.e[sub.j*8+1 : sub.j*8+8] AS c,
      |               list_dot_product(cen.e[sub.j*8+1 : sub.j*8+8],
      |                                cen.e[sub.j*8+1 : sub.j*8+8]) AS cc
      |        FROM cen CROSS JOIN sub),
      |enc AS (
      |  SELECT pv.vec_id, cbs.j, cbs.i, cbs.c, cbs.cc,
      |    row_number() OVER (PARTITION BY pv.vec_id, cbs.j ORDER BY
      |      cbs.cc - 2 * list_dot_product(pv.e[cbs.j*8+1 : cbs.j*8+8], cbs.c) ASC,
      |      cbs.i ASC) AS rn
      |  FROM pv CROSS JOIN cbs),
      |codes AS (SELECT vec_id, j, c, cc FROM enc WHERE rn = 1),
      |adc AS (
      |  SELECT codes.vec_id,
      |    list_sum(list(codes.cc - 2 * list_dot_product(q.e[codes.j*8+1 : codes.j*8+8],
      |                                                  codes.c)
      |                  ORDER BY codes.j)) AS d
      |  FROM codes, q GROUP BY codes.vec_id),
      |cand AS (SELECT vec_id FROM (
      |    SELECT vec_id, row_number() OVER (ORDER BY d ASC, vec_id ASC) AS rn
      |    FROM adc) WHERE rn <= 30)
      |SELECT pv.vec_id
      |FROM pv JOIN cand USING (vec_id), q
      |ORDER BY list_dot_product(pv.e, q.e)
      |  / (sqrt(list_dot_product(pv.e, pv.e)) * sqrt(list_dot_product(q.e, q.e))) DESC,
      |  pv.vec_id
      |LIMIT 10""".stripMargin

  private lazy val d4OracleSql: String = {
    // mirrors simhashPairs(maxHamming=3, nBits=60, md560=true). The
    // oracle verifies ALL pairs; the Spark side only compares same-chunk
    // buckets — identical answers because the 4-chunk pigeonhole is exact
    // for hamming <= 3.
    val bitSums = (0 until 60).map { j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n    ")
    val assemble = (0 until 60).map { j =>
      s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
       |  FROM documents),
       |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $assemble AS sh FROM bits)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  bit_count(xor(a.sh, b.sh)) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin
  }

  /** The ta3 quality-score formula as a DuckDB expression over `text` —
    * shared by the ta3/ta11/ta12 oracles so all three pin the identical
    * fixed-order double arithmetic.
    */
  private val qualitySqlExpr =
    """0.25 * least(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0) +
      |  0.25 * least(CAST(len(list_intersect(list_distinct(string_split_regex(trim(text), '\s+')),
      |      ['the','a','and','of','to','in','is','it','that'])) AS DOUBLE)
      |    / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0) * 5.0, 1.0) +
      |  0.25 * (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      |    / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) +
      |  0.25 * (1.0 - least(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
      |    / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0))""".stripMargin

  /** The ta13 combined Gopher keep decision as a DuckDB predicate over
    * `text` — shared by the ta13 and pipe2 oracles.
    */
  private val gopherKeepSqlExpr =
    """(len(string_split_regex(trim(text), '\s+')) BETWEEN 20 AND 100000)
      |  AND (CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
      |    / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0)
      |    BETWEEN 3.0 AND 10.0)
      |  AND (CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
      |    / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0)
      |    <= 0.1)
      |  AND (CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      |    / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0)
      |    >= 0.8)
      |  AND (len(list_intersect(list_distinct(string_split_regex(trim(text), '\s+')),
      |    ['the','a','and','of','to','in','is','it','that'])) >= 2)""".stripMargin

  /** mix3's k-means centroids, captured when the query runs. The oracle
    * is GENERATED with them as literals (the sim2/sim3 index-constant
    * pattern): the centroids are deterministic given the data + seed, but
    * only the engine computes them, so the query stashes them for the
    * post-run [[oracleSql]] dump (Verify writes oracle_sql.json AFTER
    * running every query). Absent (query never ran in this session) the
    * entry is omitted and the driver records the rows-only fallback.
    */
  @volatile private var mix3Centroids: Option[Array[(Int, Seq[Double])]] = None

  /** mm3/mm4's selected doc ids, captured when the queries run (same
    * post-run generated-oracle pattern as [[mix3Centroids]]). The media
    * is synthesized from the id as seed, so with the ids in hand the
    * EXPECTED codec features are pure generation-time math
    * ([[Multimodal.expectedImageLumSum]]/[[Multimodal.expectedAudioEnergySum]]
    * — no codec on the oracle side) and the oracle is a VALUES table.
    */
  @volatile private var mm3Ids: Option[Array[Long]] = None
  @volatile private var mm4Ids: Option[Array[Long]] = None

  /** Replica of Spark's `round(x, s)` on DOUBLE (HALF_UP via BigDecimal)
    * — the oracle must emit the exact post-round bits.
    */
  private def sparkRound(d: Double, s: Int): Double =
    BigDecimal(d).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def mm3Mm4Oracle: Map[String, String] = {
    val m3 = mm3Ids.map { ids =>
      val vals = ids.sorted.map { id =>
        val lum = sparkRound(Multimodal.expectedImageLumSum(id.toInt), 4)
        s"($id, true, 8, 8, $lum)"
      }.mkString(",\n    ")
      "mm3_image_codec" ->
        s"""SELECT CAST(media_id AS BIGINT) AS media_id, decoded,
           |  CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           |  CAST(lum_sum AS DOUBLE) AS lum_sum
           |FROM (VALUES
           |    $vals) t(media_id, decoded, width, height, lum_sum)""".stripMargin
    }
    val m4 = mm4Ids.map { ids =>
      val vals = ids.sorted.map { id =>
        val en = sparkRound(Multimodal.expectedAudioEnergySum(id.toInt), 4)
        s"($id, true, 8000.0, 100.0, $en)"
      }.mkString(",\n    ")
      "mm4_audio_codec" ->
        s"""SELECT CAST(media_id AS BIGINT) AS media_id, decoded,
           |  CAST(sample_rate AS REAL) AS sample_rate,
           |  CAST(duration_ms AS DOUBLE) AS duration_ms,
           |  CAST(energy_sum AS DOUBLE) AS energy_sum
           |FROM (VALUES
           |    $vals) t(media_id, decoded, sample_rate, duration_ms, energy_sum)""".stripMargin
    }
    (m3.toSeq ++ m4.toSeq).toMap
  }

  private def mix3Oracle: Map[String, String] = mix3Centroids.map { cens =>
    val vals = cens.sortBy(_._1).map { case (i, c) =>
      s"($i, ${c.mkString("[", ",", "]")}::DOUBLE[])"
    }.mkString(",\n    ")
    // replay: argmax centroid cosine (ties -> larger index, Spark's
    // greatest(struct)), then the per-cluster cap in md5-rank order
    // (ties -> smaller id, capPerGroup's global window)
    "mix3_cluster_balance" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |c AS (SELECT * FROM (VALUES
         |    $vals) t(i, ce)),
         |asg AS (
         |  SELECT vec_id, i AS cluster FROM (
         |    SELECT v.vec_id, c.i, row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_dot_product(v.e, c.ce)
         |        / sqrt(list_dot_product(v.e, v.e)) DESC, c.i DESC) AS rn
         |    FROM v CROSS JOIN c) WHERE rn = 1)
         |SELECT vec_id, cluster, rank FROM (
         |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY cluster
         |      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT DESC,
         |      vec_id ASC) AS rank
         |  FROM asg) WHERE rank <= 40""".stripMargin
  }.toMap

  def oracleSql: Map[String, String] = mix3Oracle ++ mm3Mm4Oracle ++ Map(
    "ta11_top_fraction" ->
      s"""WITH scored AS (
         |  SELECT doc_id, $qualitySqlExpr AS quality FROM documents),
         |r AS (
         |  SELECT doc_id, quality,
         |    row_number() OVER (ORDER BY quality DESC, doc_id) AS rn,
         |    count(*) OVER () AS n
         |  FROM scored)
         |SELECT doc_id, quality FROM r WHERE rn <= floor(0.1 * n)""".stripMargin,

    "ta12_budget_fill" ->
      s"""WITH scored AS (
         |  SELECT doc_id, $qualitySqlExpr AS quality,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |tot AS (SELECT floor(0.25 * sum(n_tokens)) AS budget FROM scored),
         |c AS (
         |  SELECT doc_id, quality, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM scored)
         |SELECT c.doc_id, c.quality, c.n_tokens FROM c, tot
         |WHERE c.cum <= tot.budget""".stripMargin,

    "sim2_ann_lsh" -> sim2OracleSql,
    "sim6_pq_ann" -> sim6OracleSql,
    "sim5_knn_ann" -> sim5OracleSql,
    "sim3_ivf" -> sim3OracleSql,
    // the persisted index materializes the exact sim3 assignment
    "sim7_ivf_index" -> sim3OracleSql,
    "sim8_ivfpq_index" -> sim8OracleSql,
    "d4_simhash" -> d4OracleSql,
    "s2_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45""".stripMargin,

    "p1_projection" -> "SELECT o_orderkey, o_totalprice FROM orders",

    "p2_predicates" ->
      """SELECT * FROM part
        |WHERE p_size >= 5 AND p_size <= 40 AND p_size <> 13
        |  AND p_brand IN ('Brand#1','Brand#2','Brand#3','Brand#10','Brand#17','Brand#22')
        |  AND p_type NOT IN ('STANDARD')
        |  AND (p_name LIKE 's%' OR p_name LIKE '%t' OR p_name LIKE '%gear%')
        |  AND p_retailprice IS NOT NULL""".stripMargin,

    "s5_limit_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,

    "a6_count_star" -> "SELECT count(*) AS cnt FROM lineitem",

    "s8_append_scan" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "a1_upsert_lww" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "a1_upsert_delete" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "a1_upsert_delete_ignore" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_type <> 'error') WHERE rn = 1""".stripMargin,

    "e1_add_column" ->
      """WITH mx AS (SELECT max(event_id) // 2 AS mid FROM events)
        |SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value,
        |  CASE WHEN event_id <= (SELECT mid FROM mx) THEN NULL ELSE props END AS props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    // undo recovery compensates everything past the registered point, so
    // the state is exactly LWW over the first half of the event stream
    "t10_undo_recovery" ->
      """WITH mx AS (SELECT max(event_id) // 2 AS mid FROM events)
        |SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id <= (SELECT mid FROM mx)) WHERE rn = 1""".stripMargin,

    "tt1_time_travel" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_orderkey % 2 = 0""".stripMargin,

    // batch 2 (click/view rows with event_id%4=0) lands AFTER batch 1, so
    // it wins per (event_type,user_id) regardless of event_id; within a
    // batch the upsert order column is event_id
    "tier1_incremental_export" ->
      """WITH u AS (
        |  SELECT *, 1 AS b FROM events WHERE event_id % 4 <> 0
        |  UNION ALL
        |  SELECT *, 2 AS b FROM events
        |  WHERE event_id % 4 = 0 AND event_type IN ('click','view'))
        |SELECT event_type, user_id, ts,
        |       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY event_type, user_id
        |        ORDER BY b DESC, event_id DESC) AS rn
        |      FROM u) WHERE rn = 1""".stripMargin,

    // version 0 = batch 1 only (LWW within the batch by event_id)
    "tt5_delta_version_travel" ->
      """SELECT event_type, user_id, ts,
        |       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY event_type, user_id
        |        ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id % 4 <> 0) WHERE rn = 1""".stripMargin,

    // identical state through the Delta-format tier path
    "tier2_delta_export" ->
      """WITH u AS (
        |  SELECT *, 1 AS b FROM events WHERE event_id % 4 <> 0
        |  UNION ALL
        |  SELECT *, 2 AS b FROM events
        |  WHERE event_id % 4 = 0 AND event_type IN ('click','view'))
        |SELECT event_type, user_id, ts,
        |       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY event_type, user_id
        |        ORDER BY b DESC, event_id DESC) AS rn
        |      FROM u) WHERE rn = 1""".stripMargin,

    // identical state through the Paimon-format tier path
    "tier3_paimon_export" ->
      """WITH u AS (
        |  SELECT *, 1 AS b FROM events WHERE event_id % 4 <> 0
        |  UNION ALL
        |  SELECT *, 2 AS b FROM events
        |  WHERE event_id % 4 = 0 AND event_type IN ('click','view'))
        |SELECT event_type, user_id, ts,
        |       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY event_type, user_id
        |        ORDER BY b DESC, event_id DESC) AS rn
        |      FROM u) WHERE rn = 1""".stripMargin,

    // snapshot 1 = batch 1 only (LWW within the batch by event_id)
    "tt6_paimon_snapshot_travel" ->
      """SELECT event_type, user_id, ts,
        |       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY event_type, user_id
        |        ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id % 4 <> 0) WHERE rn = 1""".stripMargin,

    // identical state through the Hudi-format tier path
    "tier4_hudi_export" ->
      """WITH u AS (
        |  SELECT *, 1 AS b FROM events WHERE event_id % 4 <> 0
        |  UNION ALL
        |  SELECT *, 2 AS b FROM events
        |  WHERE event_id % 4 = 0 AND event_type IN ('click','view'))
        |SELECT event_type, user_id, ts,
        |       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY event_type, user_id
        |        ORDER BY b DESC, event_id DESC) AS rn
        |      FROM u) WHERE rn = 1""".stripMargin,

    // first instant = batch 1 only (LWW within the batch by event_id)
    "tt7_hudi_instant_travel" ->
      """SELECT event_type, user_id, ts,
        |       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY event_type, user_id
        |        ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id % 4 <> 0) WHERE rn = 1""".stripMargin,

    // lake state (batches 1+2) merged with the fresh log tail (batch 3)
    // = LWW over all three batches
    "s18_lake_union_sql" ->
      """WITH u AS (
        |  SELECT *, 1 AS b FROM events WHERE event_id % 4 <> 0
        |  UNION ALL
        |  SELECT *, 2 AS b FROM events
        |  WHERE event_id % 4 = 0 AND event_type IN ('click','view')
        |  UNION ALL
        |  SELECT *, 3 AS b FROM events
        |  WHERE event_id % 4 = 0 AND event_type = 'purchase')
        |SELECT event_type, user_id, ts,
        |       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY event_type, user_id
        |        ORDER BY b DESC, event_id DESC) AS rn
        |      FROM u) WHERE rn = 1""".stripMargin,

    "s17_lake_union_read" ->
      """WITH u AS (
        |  SELECT *, 1 AS b FROM events WHERE event_id % 4 <> 0
        |  UNION ALL
        |  SELECT *, 2 AS b FROM events
        |  WHERE event_id % 4 = 0 AND event_type IN ('click','view')
        |  UNION ALL
        |  SELECT *, 3 AS b FROM events
        |  WHERE event_id % 4 = 0 AND event_type = 'purchase')
        |SELECT event_type, user_id, ts,
        |       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY event_type, user_id
        |        ORDER BY b DESC, event_id DESC) AS rn
        |      FROM u) WHERE rn = 1""".stripMargin,

    // every value recomputed from customer, crossed with the four
    // formats: any format whose metadata mangles a type hash-mismatches
    "tier5_all_types" ->
      """WITH base AS (
        |  SELECT c_custkey AS k,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,6)) AS DOUBLE) AS dec_v,
        |    make_timestamp((1700000000 + c_custkey) * 1000000) AS ts,
        |    make_timestamp((1700000000 + c_custkey) * 1000000) AS tsn,
        |    DATE '2020-01-01' + CAST(c_custkey % 1000 AS INT) AS dt,
        |    md5(CAST(c_custkey AS VARCHAR)) AS bin_hex,
        |    CAST(c_custkey AS DOUBLE) * 1.5 AS arr0,
        |    CAST(c_acctbal AS DOUBLE) AS arr1,
        |    CAST(c_custkey AS BIGINT) AS m_a,
        |    CAST(c_custkey AS BIGINT) * 2 AS m_b,
        |    c_name AS st_n,
        |    CAST(c_nationkey AS INT) AS st_nk
        |  FROM customer)
        |SELECT f.fmt, base.*
        |FROM base CROSS JOIN (VALUES ('iceberg'), ('delta'), ('paimon'),
        |  ('hudi')) f(fmt)""".stripMargin,

    // the full-startup stream covers the WHOLE corpus exactly once:
    // lake seed (% 4 <> 0, expired from the log) ∪ fresh tail (% 4 = 0)
    "t2_lake_seeded_stream" ->
      """SELECT event_type, user_id, ts,
        |       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM events""".stripMargin,

    "s1_log_poller" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",

    "s13_rewrite_files" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",

    "s15_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |FROM lineitem WHERE l_partkey <= 50 AND l_suppkey <= 5""".stripMargin,

    "tt2_version_travel" ->
      """WITH mx AS (SELECT max(event_id) // 2 AS mid FROM events)
        |SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id <= (SELECT mid FROM mx)) WHERE rn = 1""".stripMargin,

    // restored state == version-1 travel state (same oracle shape)
    "tt4_rollback" ->
      """WITH mx AS (SELECT max(event_id) // 2 AS mid FROM events)
        |SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id <= (SELECT mid FROM mx)) WHERE rn = 1""".stripMargin,

    "tt3_changes_between" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS pts,
        |         lag(CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE))
        |           OVER (PARTITION BY user_id ORDER BY event_id) AS pv
        |  FROM events),
        |mx AS (SELECT max(event_id) // 2 AS mid FROM events)
        |SELECT CASE WHEN rn = 1 THEN '+I' ELSE '+U' END AS _change_type,
        |       user_id, ts, value
        |FROM o WHERE event_id > (SELECT mid FROM mx)
        |UNION ALL
        |SELECT '-U' AS _change_type, user_id, pts AS ts, pv AS value
        |FROM o WHERE rn > 1 AND event_id > (SELECT mid FROM mx)""".stripMargin,

    "mm2_media_pipeline" ->
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN strlen(text) > 0 THEN 32 ELSE 0 END AS BIGINT) AS n_resized,
        |  CAST(8 AS BIGINT) AS n_features
        |FROM documents""".stripMargin,

    "a2_partial_update" ->
      """WITH base AS (
        |  SELECT ts, user_id, event_type, CAST(value AS DECIMAL(18,6)) AS value, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, CAST(arg_max(value, event_id) * 2 AS DECIMAL(18,6)) AS v2
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT b.ts, b.user_id, b.event_type,
        |  CAST(COALESCE(p.v2, b.value) AS DOUBLE) AS value, b.props
        |FROM base b LEFT JOIN p USING (user_id) WHERE b.rn = 1""".stripMargin,

    "a3_first_row" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id ASC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "a4_versioned" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "a5_aggregation" ->
      """SELECT max(ts) AS ts, user_id,
        |  string_agg(event_type, '|' ORDER BY event_id) AS event_type,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS value,
        |  arg_max(props, event_id) AS props
        |FROM events GROUP BY user_id""".stripMargin,

    "a5_retraction" ->
      """SELECT user_id, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "t3_changelog" ->
      """WITH o AS (
        |  SELECT user_id, ts, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS pts,
        |         lag(CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE))
        |           OVER (PARTITION BY user_id ORDER BY event_id) AS pv
        |  FROM events)
        |SELECT CASE WHEN rn = 1 THEN '+I' ELSE '+U' END AS _change_type, user_id, ts, value FROM o
        |UNION ALL
        |SELECT '-U' AS _change_type, user_id, pts AS ts, pv AS value FROM o WHERE rn > 1""".stripMargin,

    "j1_pk_lookup" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1 AND user_id = 7""".stripMargin,

    "j1_batched_lookup" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1 AND user_id IN (3, 7, 11, 42)""".stripMargin,

    "j9_secondary_index" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1 AND event_type = 'purchase'""".stripMargin,

    "j10_hot_index_join" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1 AND event_type = 'view'""".stripMargin,

    "j11_colocated_join" ->
      """SELECT o.o_custkey AS custkey, c.c_name AS name,
        |  count(*) AS n_orders, CAST(sum(o.o_totalprice) AS DOUBLE) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY o.o_custkey, c.c_name""".stripMargin,

    "s16_export_roundtrip" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "j2_prefix_lookup" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1 AND user_id = 7""".stripMargin,

    "j3_lookup_join" ->
      """WITH state AS (
        |  SELECT user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |        FROM events) WHERE rn = 1)
        |SELECT s.user_id, s.event_type, s.value, c.c_name, c.c_mktsegment
        |FROM state s JOIN customer c ON s.user_id = c.c_custkey""".stripMargin,

    "f1_rb_cardinality" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY event_type""".stripMargin,

    "f2_rb_intersect" ->
      """SELECT
        |  (SELECT count(*) FROM ((SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
        |    INTERSECT (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'))) AS n_both,
        |  (SELECT count(*) FROM ((SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
        |    UNION (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'))) AS n_either""".stripMargin,

    "p4_partition_pruning" ->
      """SELECT event_id, user_id, event_type, strftime(ts, '%Y-%m-%d') AS dt
        |FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'""".stripMargin,

    "s14_ttl_retention" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, count(*) AS n
        |FROM events WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-20'
        |GROUP BY 1""".stripMargin,

    "s14_auto_policy" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, count(*) AS n
        |FROM events WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-23'
        |GROUP BY 1""".stripMargin,

    "t3_binlog" ->
      """WITH o AS (
        |  SELECT user_id, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS v,
        |         row_number() OVER w AS rn,
        |         lag(CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE)) OVER w AS pv
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
        |SELECT CASE WHEN rn = 1 THEN '+I' ELSE '+U' END AS _change_type, user_id,
        |       CASE WHEN rn = 1 THEN NULL ELSE pv END AS before_value,
        |       v AS after_value
        |FROM o""".stripMargin,

    "d1_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents
        |GROUP BY lower(regexp_replace(trim(text), '\s+', ' ', 'g'))""".stripMargin,

    "d2_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text)-4, 1)),
        |    i -> substr(text, CAST(i AS INT), 5))) AS gs
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.8""".stripMargin,

    // same exact-pair answer as d2: LSH banding only bounds the candidate
    // set; the exact-Jaccard verification makes the output identical
    "d3_minhash_lsh" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text)-4, 1)),
        |    i -> substr(text, CAST(i AS INT), 5))) AS gs
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.8""".stripMargin,

    // ingest order: odd-id batch then even-id batch; a doc drops iff it
    // exact-Jaccard-matches (>= 0.8) an ACCEPTED doc of an earlier batch
    // or ANY lower-id doc of its own batch — the unrolled replay of
    // MinHashIngestIndex.ingest (banding only bounds candidates; the
    // accept test is exact Jaccard, so the oracle needs no banding)
    "d11_ingest_dedup" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text)-4, 1)),
        |    i -> substr(text, CAST(i AS INT), 5))) AS gs
        |  FROM documents),
        |jac AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.8),
        |acc1 AS (
        |  SELECT doc_id FROM documents d WHERE doc_id % 2 = 1
        |    AND NOT EXISTS (SELECT 1 FROM jac
        |      WHERE jac.b_id = d.doc_id AND jac.a_id % 2 = 1
        |        AND jac.a_id < d.doc_id)),
        |acc2 AS (
        |  SELECT doc_id FROM documents d WHERE doc_id % 2 = 0
        |    AND NOT EXISTS (SELECT 1 FROM jac JOIN acc1 ON jac.a_id = acc1.doc_id
        |      WHERE jac.b_id = d.doc_id)
        |    AND NOT EXISTS (SELECT 1 FROM jac
        |      WHERE jac.b_id = d.doc_id AND jac.a_id % 2 = 0
        |        AND jac.a_id < d.doc_id))
        |SELECT doc_id FROM acc1 UNION ALL SELECT doc_id FROM acc2""".stripMargin,

    "d6_dedup_clusters" ->
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text)-4, 1)),
        |    i -> substr(text, CAST(i AS INT), 5))) AS gs
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.8),
        |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v WHERE e.v <> r.u),
        |comp AS (SELECT u AS id, least(u, min(v)) AS canonical FROM reach GROUP BY u)
        |SELECT d.doc_id, COALESCE(c.canonical, d.doc_id) AS canonical_id
        |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin,

    // d6's cluster map + keep-best: max n_chars, tie -> smallest doc_id
    "d10_canonical_corpus" ->
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text)-4, 1)),
        |    i -> substr(text, CAST(i AS INT), 5))) AS gs
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.8),
        |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v WHERE e.v <> r.u),
        |comp AS (SELECT u AS id, least(u, min(v)) AS canonical FROM reach GROUP BY u),
        |cl AS (
        |  SELECT d.doc_id, d.n_chars,
        |    COALESCE(c.canonical, d.doc_id) AS canonical_id
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
        |ranked AS (
        |  SELECT canonical_id, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY canonical_id
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM cl)
        |SELECT canonical_id, doc_id, n_chars FROM ranked WHERE rn = 1""".stripMargin,

    "dc1_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(toks) - 7),
        |    i -> array_to_string(toks[i : i + 7], ' '))) AS g
        |  FROM tok),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0),
        |c AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % 20 <> 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM c JOIN b USING (g)
        |GROUP BY doc_id""".stripMargin,

    // exact cross-split Jaccard: banding only bounds the candidate set,
    // the exact verification makes dc2's output identical (d3 argument)
    "dc2_fuzzy_decontam" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text)-4, 1)),
        |    i -> substr(text, CAST(i AS INT), 5))) AS gs
        |  FROM documents),
        |c AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
        |b AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
        |j AS (
        |  SELECT c.doc_id,
        |    CAST(len(list_intersect(c.gs, b.gs)) AS DOUBLE)
        |      / (len(c.gs) + len(b.gs) - len(list_intersect(c.gs, b.gs))) AS jac
        |  FROM c CROSS JOIN b
        |  WHERE CAST(len(list_intersect(c.gs, b.gs)) AS DOUBLE)
        |      / (len(c.gs) + len(b.gs) - len(list_intersect(c.gs, b.gs))) >= 0.8)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated,
        |  max(jac) AS max_jaccard
        |FROM j GROUP BY doc_id""".stripMargin,

    "d7_dup_ngrams" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |gd AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, len(toks) - 7),
        |      i -> array_to_string(toks[i : i + 7], ' '))) AS g
        |    FROM tok)),
        |freq AS (SELECT g, count(*) AS df FROM gd GROUP BY g)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    AS dup_frac
        |FROM gd JOIN freq USING (g)
        |GROUP BY doc_id""".stripMargin,

    "d8_remove_dup_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 7),
        |      i -> struct_pack(i := i, g := lower(array_to_string(toks[i : i + 7], ' '))))) AS s
        |  FROM tok),
        |g2 AS (SELECT doc_id, s.i AS i, s.g AS g FROM g),
        |freq AS (
        |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM g2 GROUP BY g)
        |  WHERE df >= 2),
        |ds AS (
        |  SELECT doc_id, list(i) AS starts
        |  FROM g2 WHERE g IN (SELECT g FROM freq) GROUP BY doc_id),
        |r AS (
        |  SELECT t.doc_id, t.toks, coalesce(d.starts, []) AS starts
        |  FROM tok t LEFT JOIN ds d USING (doc_id))
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
        |  COALESCE(array_to_string(kept, ' '), '') AS clean_text
        |FROM (
        |  SELECT doc_id, toks,
        |    list_transform(
        |      list_filter(
        |        list_transform(generate_series(1, len(toks)),
        |          p -> struct_pack(p := p, tk := toks[p])),
        |        x -> len(list_filter(starts, s2 -> x.p >= s2 AND x.p <= s2 + 7)) = 0),
        |      x -> x.tk) AS kept
        |  FROM r)""".stripMargin,

    "d5_embedding_neardup" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |n AS (SELECT vec_id, sqrt(list_aggregate(list_transform(e, x -> x*x), 'sum')) AS nrm FROM v),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |        list_aggregate(list_transform(list_zip(a.e, b.e), x -> x[1]*x[2]), 'sum') AS d
        |      FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT p.a_id, p.b_id FROM p JOIN n na ON na.vec_id = p.a_id
        |JOIN n nb ON nb.vec_id = p.b_id
        |WHERE d / (na.nrm * nb.nrm) >= 0.47""".stripMargin,

    "sim1_cosine_topk" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |q AS (SELECT e FROM v WHERE vec_id = 0),
        |n AS (SELECT vec_id, sqrt(list_aggregate(list_transform(e, x -> x*x), 'sum')) AS nrm FROM v)
        |SELECT v.vec_id FROM v, q JOIN n ON n.vec_id = v.vec_id WHERE v.vec_id <> 0
        |ORDER BY list_aggregate(list_transform(list_zip(v.e, q.e), x -> x[1]*x[2]), 'sum')
        |  / (n.nrm * (SELECT sqrt(list_aggregate(list_transform(e, x -> x*x), 'sum')) FROM q)) DESC,
        |  v.vec_id
        |LIMIT 10""".stripMargin,

    "ta1_text_stats" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish,
        |  length(text) AS n_chars
        |FROM documents""".stripMargin,

    "ta2_langid" ->
      s"""WITH s AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk,
        |    length(text) AS chars,
        |    ${TextAnalysis.stopwords.map { case (l, ws) =>
              s"len(list_intersect(list_distinct(string_split_regex(trim(text), '\\s+')), " +
                s"[${ws.map(w => s"'$w'").mkString(",")}])) AS s_$l"
            }.mkString(",\n    ")}
        |  FROM documents)
        |SELECT doc_id, CASE
        |  WHEN cjk * 3 > chars THEN 'zh'
        |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
        |  WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
        |  WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
        |  WHEN s_es > 0 THEN 'es'
        |  ELSE 'und' END AS lang_pred
        |FROM s""".stripMargin,

    "ta3_quality" ->
      """SELECT doc_id,
        |  0.25 * least(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0) +
        |  0.25 * least(CAST(len(list_intersect(list_distinct(string_split_regex(trim(text), '\s+')),
        |      ['the','a','and','of','to','in','is','it','that'])) AS DOUBLE)
        |    / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0) * 5.0, 1.0) +
        |  0.25 * (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
        |    / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) +
        |  0.25 * (1.0 - least(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |    / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) AS quality
        |FROM documents""".stripMargin,

    // ta3's quality + SQL-standard NTILE(10) over (quality, doc_id)
    "h9_quality_deciles" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    0.25 * least(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0) +
        |    0.25 * least(CAST(len(list_intersect(list_distinct(string_split_regex(trim(text), '\s+')),
        |        ['the','a','and','of','to','in','is','it','that'])) AS DOUBLE)
        |      / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0) * 5.0, 1.0) +
        |    0.25 * (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
        |      / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) +
        |    0.25 * (1.0 - least(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |      / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) AS quality
        |  FROM documents)
        |SELECT doc_id, quality,
        |  NTILE(10) OVER (ORDER BY quality, doc_id) AS decile
        |FROM q""".stripMargin,

    "fp1_fingerprint" ->
      """SELECT count(DISTINCT lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS n_distinct
        |FROM documents""".stripMargin,

    "j4_delta_join" ->
      """SELECT v.user_id, v.event_id AS v_event_id, p.event_id AS p_event_id
        |FROM events v JOIN events p
        |  ON v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.user_id = v.user_id
        | AND p.ts >= v.ts - INTERVAL 30 MINUTE AND p.ts <= v.ts""".stripMargin,

    "j6_asof_join" ->
      """WITH v AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, ts,
        |         arg_max(CAST(value AS DECIMAL(18,6)), event_id) AS value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT v.user_id, v.ts, v.event_id, CAST(p.value AS DOUBLE) AS value
        |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts""".stripMargin,

    "j7_range_join" ->
      """SELECT v.event_id AS v_event_id, p.event_id AS p_event_id
        |FROM events v JOIN events p
        |  ON v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.value > 150
        | AND CAST(v.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
        | AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP) + INTERVAL 15 MINUTE""".stripMargin,

    "j8_interval_overlap" ->
      """SELECT p.event_id AS p_event_id, e.event_id AS e_event_id
        |FROM events p JOIN events e
        |  ON p.event_type = 'purchase' AND p.value > 150
        | AND e.event_type = 'error' AND e.value > 200
        | AND CAST(p.ts AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
        | AND CAST(e.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP) + INTERVAL 15 MINUTE""".stripMargin,

    "sim4_knn_graph" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |           WHERE list_dot_product(embedding, embedding) > 0)
        |SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |    list_dot_product(a.e, b.e) /
        |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
        |    DESC, b.vec_id) AS rank
        |FROM v a JOIN v b ON a.vec_id <> b.vec_id
        |QUALIFY rank <= 3""".stripMargin,

    "ta18_weighted_sample" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    pow((CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |         + 0.5) / 281474976710656.0,
        |        1.0 / CAST(n_chars AS DOUBLE)) AS wkey
        |  FROM documents WHERE n_chars > 0)
        |ORDER BY wkey DESC, doc_id LIMIT 120""".stripMargin,

    "ta4_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  (CASE WHEN lang = 'en' THEN '8000'
        |        WHEN lang = 'zh' THEN 'c000'
        |        ELSE '4000' END)""".stripMargin,

    "ta5_pii" ->
      s"""SELECT doc_id,
        |  len(regexp_extract_all(text, '${TextAnalysis.emailPattern}')) AS n_emails,
        |  len(regexp_extract_all(text, '${TextAnalysis.phonePattern}')) AS n_phones,
        |  length(regexp_replace(text, '${TextAnalysis.emailPattern}', '<EMAIL>', 'g')) AS redacted_len
        |FROM documents""".stripMargin,

    // the redaction transform itself: emails masked first (a digit-heavy
    // local part must not be half-eaten by the phone pass); n_phones
    // counts on the email-masked text so each count equals its marker
    // count in clean_text
    "ta22_redact_pii" ->
      s"""WITH m AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '${TextAnalysis.emailPattern}',
        |      '<EMAIL>', 'g') AS masked
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.emailPattern}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(masked, '${TextAnalysis.phonePattern}')) AS BIGINT) AS n_phones,
        |  regexp_replace(masked, '${TextAnalysis.phonePattern}', '<PHONE>', 'g') AS clean_text
        |FROM m""".stripMargin,

    "ta6_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
        |    i -> concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i AS INT) + 1],
        |                   toks[CAST(i AS INT) + 2])) AS tg
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(tg) < 1 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)
        |  END AS repetition
        |FROM g""".stripMargin,

    "ta9_shuffle" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1 AS position
        |FROM documents""".stripMargin,

    "ta10_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
        |  FROM t WHERE n_tokens > 0),
        |g AS (
        |  SELECT doc_id, o, n_tokens,
        |    unnest(generate_series(o // 2048, (o + n_tokens - 1) // 2048)) AS seq_id
        |  FROM c)
        |SELECT doc_id, seq_id,
        |  CAST(greatest(seq_id * 2048 - o, 0) AS BIGINT) AS doc_start,
        |  CAST(least((seq_id + 1) * 2048, o + n_tokens)
        |    - greatest(seq_id * 2048, o) AS BIGINT) AS seq_tokens
        |FROM g""".stripMargin,

    "ta7_token_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |     - n_tokens) // 10000 AS BIGINT) AS shard
        |FROM t""".stripMargin,

    "ta8_token_rarity" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |freq AS (SELECT t, count(*) AS f FROM tok GROUP BY t)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN f <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  CAST(sum(f) AS DOUBLE) / count(*) AS mean_tf
        |FROM tok JOIN freq USING (t)
        |GROUP BY doc_id""".stripMargin,

    "ch1_chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, (len(toks) - 1) // 48)) AS k
        |  FROM t)
        |SELECT doc_id, k AS chunk_id,
        |  CAST(len(toks[k*48+1 : least(k*48+64, len(toks))]) AS INT)
        |    AS n_chunk_tokens,
        |  md5(array_to_string(toks[k*48+1 : least(k*48+64, len(toks))], ' '))
        |    AS chunk_hash
        |FROM s""".stripMargin,

    "mix1_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |r AS (SELECT lang,
        |        sqrt(CAST((SELECT min(c) FROM c) AS DOUBLE) / CAST(c AS DOUBLE))
        |          AS rate
        |      FROM c)
        |SELECT doc_id, lang FROM documents JOIN r USING (lang)
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      < round(rate * 65536.0)""".stripMargin,

    "t8_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "t9_agg_view" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1
        |GROUP BY event_type""".stripMargin,

    "fp2_winnowing" ->
      """WITH h AS (
        |  SELECT doc_id, list_transform(
        |    generate_series(1, greatest(length(text) - 11, 1)),
        |    i -> ('0x' || substr(md5(substr(text, CAST(i AS INT), 12)), 1, 15))::BIGINT) AS hs
        |  FROM documents),
        |fp AS (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, greatest(len(hs) - 4, 1)),
        |      j -> list_min(hs[CAST(j AS INT) : CAST(j AS INT) + 4]))) AS fp
        |    FROM h)),
        |rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 20),
        |pruned AS (SELECT doc_id, fp FROM fp SEMI JOIN rare USING (fp))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM pruned a JOIN pruned b
        |  ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING count(*) >= 10""".stripMargin,

    "pipe1_clean_corpus" ->
      s"""WITH red AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '${TextAnalysis.emailPattern}', '<EMAIL>', 'g') AS text
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, text,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk,
        |    length(text) AS chars,
        |    ${TextAnalysis.stopwords.map { case (l, ws) =>
              s"len(list_intersect(list_distinct(string_split_regex(trim(text), '\\s+')), " +
                s"[${ws.map(w => s"'$w'").mkString(",")}])) AS s_$l"
            }.mkString(",\n    ")},
        |    0.25 * least(len(string_split_regex(trim(text), '\\s+')) / 100.0, 1.0) +
        |    0.25 * least(CAST(len(list_intersect(list_distinct(string_split_regex(trim(text), '\\s+')),
        |        ['the','a','and','of','to','in','is','it','that'])) AS DOUBLE)
        |      / greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0) * 5.0, 1.0) +
        |    0.25 * (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
        |      / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) +
        |    0.25 * (1.0 - least(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |      / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) AS quality
        |  FROM red),
        |en AS (
        |  SELECT doc_id, text FROM feat
        |  WHERE NOT (cjk * 3 > chars)
        |    AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0
        |    AND quality >= 0.5),
        |keep AS (
        |  SELECT min(doc_id) AS doc_id FROM en
        |  GROUP BY lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))),
        |tok AS (
        |  SELECT e.doc_id,
        |    CAST(len(string_split_regex(trim(e.text), '\\s+')) AS BIGINT) AS n_tokens
        |  FROM en e JOIN keep k ON e.doc_id = k.doc_id)
        |SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |     - n_tokens) // 8000 AS BIGINT) AS shard
        |FROM tok""".stripMargin,

    "t7_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, CAST(value AS DECIMAL(18,6)) AS value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |       CAST(CAST(sum(value) AS DECIMAL(18,6)) AS DOUBLE) AS session_value
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "rl1_row_level_ops" ->
      """SELECT ts, user_id, event_type,
        |  CAST(CASE WHEN event_type = 'purchase'
        |       THEN CAST(value * 2 AS DECIMAL(18,6)) ELSE value END AS DOUBLE) AS value,
        |  props
        |FROM (SELECT ts, user_id, event_type, CAST(value AS DECIMAL(18,6)) AS value, props,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "rl2_merge_into" ->
      """SELECT ts, user_id, event_type,
        |  CAST(CASE WHEN user_id % 3 = 0
        |       THEN CAST(value AS DECIMAL(18,6)) + user_id
        |       ELSE CAST(value AS DECIMAL(18,6)) END AS DOUBLE) AS value,
        |  props
        |FROM (SELECT ts, user_id, event_type, value, props,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 AND NOT (user_id % 3 = 0 AND event_type = 'error')""".stripMargin,

    // replay LWW -> SQL UPDATE (purchase values doubled) -> SQL MERGE
    // (%3==0: error rows deleted, others get +user_id; one synthetic
    // not-matched insert)
    "rl3_sql_update" ->
      """WITH lww AS (
        |  SELECT user_id, event_type, CAST(value AS DECIMAL(18,6)) AS value
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |        FROM events) WHERE rn = 1),
        |upd AS (
        |  SELECT user_id, event_type,
        |    CASE WHEN event_type = 'purchase' THEN value * 2
        |         ELSE value END AS value
        |  FROM lww),
        |merged AS (
        |  SELECT user_id, event_type,
        |    CASE WHEN user_id % 3 = 0 THEN value + user_id
        |         ELSE value END AS value
        |  FROM upd WHERE NOT (user_id % 3 = 0 AND event_type = 'error'))
        |SELECT user_id, event_type, CAST(value AS DOUBLE) AS value
        |FROM merged WHERE event_type = 'purchase'""".stripMargin,

    "rl4_sql_merge" ->
      """WITH lww AS (
        |  SELECT user_id, event_type, CAST(value AS DECIMAL(18,6)) AS value
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |        FROM events) WHERE rn = 1),
        |upd AS (
        |  SELECT user_id, event_type,
        |    CASE WHEN event_type = 'purchase' THEN value * 2
        |         ELSE value END AS value
        |  FROM lww),
        |merged AS (
        |  SELECT user_id, event_type,
        |    CASE WHEN user_id % 3 = 0 THEN value + user_id
        |         ELSE value END AS value
        |  FROM upd WHERE NOT (user_id % 3 = 0 AND event_type = 'error')
        |  UNION ALL SELECT -1, 'synthetic', CAST(42 AS DECIMAL(18,6)))
        |SELECT user_id, event_type, CAST(value AS DOUBLE) AS value
        |FROM merged""".stripMargin,

    "t3_changelog_wal" ->
      """WITH o AS (
        |  SELECT user_id, ts, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events)
        |SELECT CASE WHEN rn = 1 THEN '+I' ELSE '+U' END AS _change_type, user_id, ts, value
        |FROM o""".stripMargin,

    "a8_table_stats" ->
      "SELECT count(DISTINCT user_id) AS n_rows FROM events",

    "a5_all_functions" ->
      """WITH base AS (
        |  SELECT user_id, ts, event_id, CAST(value AS DECIMAL(18,6)) AS value,
        |         nullif(event_type, 'view') AS nv
        |  FROM events),
        |w AS (
        |  SELECT DISTINCT user_id,
        |    first_value(nv) OVER win AS first_v,
        |    first_value(nv IGNORE NULLS) OVER win AS first_nn,
        |    last_value(nv IGNORE NULLS) OVER win AS last_nn
        |  FROM base
        |  WINDOW win AS (PARTITION BY user_id ORDER BY event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |a AS (
        |  SELECT user_id, min(ts) AS min_ts,
        |    product(CASE WHEN event_id % 50 = 0
        |                 THEN 1.0 + CAST(event_id % 7 AS DOUBLE) ELSE 1.0 END) AS prod,
        |    bool_and(value > 50) AS ball,
        |    bool_or(value > 500) AS bany,
        |    count(DISTINCT event_id % 32) AS seen_card
        |  FROM base GROUP BY user_id)
        |SELECT a.user_id, a.min_ts, w.first_v, w.first_nn, w.last_nn,
        |       a.prod, a.ball, a.bany, a.seen_card
        |FROM a JOIN w USING (user_id)""".stripMargin,

    "c1_catalog_sql" ->
      """SELECT user_id,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS total_value,
        |  max(ts) AS max_ts
        |FROM events GROUP BY user_id""".stripMargin,

    "a6_count_offsets" -> "SELECT count(*) AS cnt FROM lineitem",

    "p5_point_rewrite" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1 AND user_id = 7""".stripMargin,

    "t1_startup_timestamp" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_orderkey % 2 = 1""".stripMargin,

    "a7_auto_increment" ->
      """SELECT count(*) AS n, count(*) AS n_ids,
        |  CAST(1 AS BIGINT) AS min_id, count(*) AS max_id
        |FROM events""".stripMargin,

    "s7_union_read" ->
      """SELECT ts, user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "f3_rb_scalar" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  bool_or(user_id = 7) AS has_user7
        |FROM events GROUP BY event_type""".stripMargin,

    "h1_segment_revenue" ->
      """SELECT c_mktsegment, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "h2_nation_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    "h3_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2""".stripMargin,

    "h4_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    // ts cast to microsecond TIMESTAMP so strict-inequality comparisons
    // match the engine (which reads the ns parquet as truncated micros)
    "h5_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |t0 AS (SELECT user_id, min(ts) AS t FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |t1 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e
        |       JOIN t0 ON e.user_id = t0.user_id AND e.ts > t0.t
        |       WHERE e.event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e
        |       JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step, 'signup' AS event_type,
        |       (SELECT count(*) FROM t0) AS n_users
        |UNION ALL SELECT 1, 'view', (SELECT count(*) FROM t1)
        |UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM t2)""".stripMargin,

    "h6_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_week FROM a GROUP BY 1)
        |SELECT c.cohort_week,
        |  CAST(date_diff('day', c.cohort_week, a.wk) // 7 AS BIGINT) AS week_offset,
        |  count(*) AS n_users
        |FROM a JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin,

    "h7_quantiles" ->
      """WITH r AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT t.q, r.v AS value
        |FROM r JOIN (SELECT unnest([0.25e0, 0.5e0, 0.75e0, 0.95e0]) AS q) t
        |  ON r.rn = CAST(ceil(t.q * CAST(r.n AS DOUBLE)) AS BIGINT)""".stripMargin,

    "h8_group_quantiles" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice AS v,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT o_orderpriority, t.q, r.v AS value
        |FROM r JOIN (SELECT unnest([0.5e0, 0.95e0]) AS q) t
        |  ON r.rn = CAST(ceil(t.q * CAST(r.n AS DOUBLE)) AS BIGINT)""".stripMargin,

    // threshold '1000' and scale 0.0625 are the quantized rate 4096/65536
    // baked by Sampling.thetaDistinct(rate = 1/16)
    "f4_theta_distinct" ->
      """WITH s AS (
        |  SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS h FROM orders
        |  WHERE substring(md5(CAST(o_custkey AS VARCHAR)), 1, 4) < '1000')
        |SELECT count(*) AS n_sampled,
        |  CAST(count(*) AS DOUBLE) / 0.0625 AS est_distinct FROM s""".stripMargin,

    // repeat factors: en 2.25 -> 2 whole + '4000' frac threshold,
    // zh 1.5 -> 1 + '8000', default 0.5 -> 0 + '8000'
    "mix2_epoch_mix" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    (CASE lang WHEN 'en' THEN 2 WHEN 'zh' THEN 1 ELSE 0 END)
        |    + (CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |         (CASE lang WHEN 'en' THEN '4000' ELSE '8000' END)
        |       THEN 1 ELSE 0 END) AS nc
        |  FROM documents)
        |SELECT doc_id, lang, CAST(g.c AS BIGINT) AS copy
        |FROM d, UNNEST(generate_series(0, d.nc - 1)) AS g(c)""".stripMargin,

    // mirrors semanticDedup(nlist=16, threshold=0.4, first-n quantizer):
    // same centroid/assignment replay as sim3 (ties -> larger index, like
    // Spark's greatest(struct)), then same-cluster pairwise cosine
    "d9_semantic_dedup" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings WHERE vec_id <> 0),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, e
        |      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
        |asg AS (
        |  SELECT vec_id, i AS cluster, e FROM (
        |    SELECT v.vec_id, c.i, v.e, row_number() OVER (PARTITION BY v.vec_id
        |      ORDER BY list_dot_product(v.e, c.e)
        |        / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.e, c.e)))
        |      DESC, c.i DESC) AS rn
        |    FROM v CROSS JOIN c) WHERE rn = 1),
        |rm AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.e, b.e)
        |    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
        |    >= 0.4)
        |SELECT asg.vec_id, cluster, rm.vec_id IS NULL AS kept
        |FROM asg LEFT JOIN rm ON asg.vec_id = rm.vec_id""".stripMargin,

    "ta13_gopher_rules" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
         |  len(string_split_regex(trim(text), '\\s+')) BETWEEN 20 AND 100000
         |    AS r_word_count,
         |  CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |    / greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0)
         |    BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
         |  CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
         |    / greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0)
         |    <= 0.1 AS r_symbol_ratio,
         |  CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
         |    / greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0)
         |    >= 0.8 AS r_alpha_words,
         |  len(list_intersect(list_distinct(string_split_regex(trim(text), '\\s+')),
         |    ['the','a','and','of','to','in','is','it','that'])) >= 2 AS r_stopwords,
         |  $gopherKeepSqlExpr AS keep
         |FROM documents""".stripMargin,

    // the full selection pipeline in one statement: rule filter → quality
    // → per-source cap → token-shard packing (mirrors pipe2_select_corpus)
    "pipe2_select_corpus" ->
      s"""WITH kept AS (
         |  SELECT doc_id, source, $qualitySqlExpr AS quality,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents
         |  WHERE $gopherKeepSqlExpr),
         |capped AS (
         |  SELECT doc_id, source, quality, n_tokens, rank FROM (
         |    SELECT doc_id, source, quality, n_tokens,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY quality DESC, doc_id) AS rank
         |    FROM kept) WHERE rank <= 20)
         |SELECT doc_id, source, quality, n_tokens, rank,
         |  CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |     - n_tokens) // 10000 AS BIGINT) AS shard
         |FROM capped""".stripMargin,

    // pipe3's shard MANIFEST: the same selection as pipe2 (gopher keep ->
    // per-source quality cap), the same running-sum shard rule as ta7,
    // folded to (shard, n_docs, n_tokens) — the write is exercised by the
    // query (the manifest is read BACK from the written tree), while the
    // oracle replays the deterministic assignment arithmetic
    "pipe3_write_shards" ->
      s"""WITH kept AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    source, $qualitySqlExpr AS quality
         |  FROM documents
         |  WHERE $gopherKeepSqlExpr),
         |capped AS (
         |  SELECT doc_id, n_tokens FROM (
         |    SELECT doc_id, n_tokens,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY quality DESC, doc_id) AS rank
         |    FROM kept) WHERE rank <= 20),
         |sharded AS (
         |  SELECT doc_id, n_tokens,
         |    CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |       - n_tokens) // 10000 AS BIGINT) AS shard
         |  FROM capped)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM sharded GROUP BY shard""".stripMargin,

    // mirrors dsirScore(buckets=4096, target = doc_id % 10 = 0): unigram
    // + bigram hashed features (md5-60 % 4096), add-one-smoothed log
    // importance weight; n_grams is exact, the score rounds to 6 dp
    "ta14_dsir" ->
      """WITH tok AS (
        |  SELECT doc_id, doc_id % 10 = 0 AS tgt,
        |    string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
        |g AS (
        |  SELECT doc_id, tgt, unnest(ts) AS g FROM tok
        |  UNION ALL
        |  SELECT doc_id, tgt, unnest(list_transform(range(1, len(ts)),
        |    i -> ts[i] || ' ' || ts[i+1])) AS g FROM tok),
        |docb AS (
        |  SELECT doc_id, tgt, ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS b,
        |    count(*) AS cnt
        |  FROM g GROUP BY ALL),
        |stats AS (
        |  SELECT b, sum(cnt) AS rc,
        |    sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS tc
        |  FROM docb GROUP BY b),
        |tot AS (SELECT sum(rc) AS rt, sum(tc) AS tt FROM stats)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |  round(sum(CAST(cnt AS DOUBLE) * (
        |    ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE))
        |    - ln(CAST(rc + 1 AS DOUBLE) / CAST(rt + 4096 AS DOUBLE)))), 6)
        |    AS dsir_score
        |FROM docb JOIN stats USING (b), tot
        |GROUP BY doc_id""".stripMargin,

    // mirrors capPerGroup(k=20): rank within source by (quality DESC,
    // doc_id); the salted pre-prune is plan shape only, not semantics
    "ta15_source_cap" ->
      s"""WITH scored AS (
         |  SELECT doc_id, source, $qualitySqlExpr AS quality FROM documents),
         |r AS (
         |  SELECT doc_id, source, quality,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT doc_id, source, quality, rank FROM r WHERE rank <= 20""".stripMargin,

    // mirrors unigramNll: nll = ln(T) - (1/N)·sum(tf·ln(f)); counts are
    // exact, the score rounds to 6 dp (ln is transcendental)
    "ta16_unigram_nll" ->
      """WITH tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |    FROM documents) GROUP BY doc_id, t),
        |freq AS (SELECT t, sum(tf) AS f FROM tf GROUP BY t),
        |tot AS (SELECT sum(f) AS n_corpus FROM freq)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(ln(CAST(n_corpus AS DOUBLE))
        |    - sum(CAST(tf AS DOUBLE) * ln(CAST(f AS DOUBLE)))
        |      / CAST(sum(tf) AS DOUBLE), 6) AS unigram_nll
        |FROM tf JOIN freq USING (t), tot
        |GROUP BY doc_id, n_corpus""".stripMargin,

    // mirrors bigramNll: p̂(v|u) = 0.7·fb/fp + (1−0.7)·fu/T, counts exact,
    // score rounded to 6 dp ((1.0 - 0.7) spelled as the same double
    // expression both engines evaluate)
    "ta21_bigram_nll" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |    i -> {'u': ts[i], 'v': ts[i+1]})) AS b
        |  FROM tok),
        |docbi AS (
        |  SELECT doc_id, b.u AS u, b.v AS v, count(*) AS tf
        |  FROM bg GROUP BY ALL),
        |fb AS (SELECT u, v, sum(tf) AS fb FROM docbi GROUP BY u, v),
        |fp AS (SELECT u, sum(fb) AS fp FROM fb GROUP BY u),
        |fu AS (SELECT t AS v, count(*) AS fu FROM (
        |  SELECT unnest(ts) AS t FROM tok) GROUP BY t),
        |tot AS (SELECT sum(fu) AS tcnt FROM fu)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  round(-sum(CAST(tf AS DOUBLE) * ln(
        |      0.7 * (CAST(fb AS DOUBLE) / CAST(fp AS DOUBLE))
        |      + (1.0 - 0.7) * (CAST(fu AS DOUBLE) / CAST(tcnt AS DOUBLE))))
        |    / CAST(sum(tf) AS DOUBLE), 6) AS bigram_nll
        |FROM docbi JOIN fb USING (u, v) JOIN fp USING (u) JOIN fu USING (v), tot
        |GROUP BY doc_id""".stripMargin,

    // H = ln(n) - sum(tf*ln tf)/n over per-doc token counts
    "ta20_token_entropy" ->
      """WITH tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |    FROM documents) GROUP BY doc_id, t)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(ln(CAST(sum(tf) AS DOUBLE))
        |    - sum(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE)))
        |      / CAST(sum(tf) AS DOUBLE), 6) AS token_entropy
        |FROM tf GROUP BY doc_id""".stripMargin,

    // BPE on the generation-time-oracle corpus: one two-char word per
    // doc over class-disjoint alphabets (class = doc_id % 8, word =
    // chr(97+2c)·chr(98+2c)) makes the greedy merge sequence closed-form
    // — pair counts are the class frequencies, order is (count desc,
    // left asc) = (count desc, class asc), minPairCount=2 drops
    // singleton classes, and the encoder yields 1 subword for merged
    // classes / 2 for unmerged
    "bpe1_tokenize" ->
      """WITH cls AS (SELECT doc_id, doc_id % 8 AS c FROM documents),
        |freq AS (SELECT c, count(*) AS cnt FROM cls GROUP BY c),
        |ranked AS (SELECT c, cnt,
        |    (ROW_NUMBER() OVER (ORDER BY cnt DESC, c ASC) - 1) AS rank
        |  FROM freq WHERE cnt >= 2)
        |SELECT cls.doc_id AS doc_id,
        |  CAST(CASE WHEN r.c IS NULL THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_subwords,
        |  r.rank AS rank, r.cnt AS pair_count
        |FROM cls LEFT JOIN ranked r ON cls.c = r.c""".stripMargin,

    // ta16's NLL + SQL-standard NTILE(3) over (rounded score, doc_id)
    "ta19_ppl_buckets" ->
      """WITH tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |    FROM documents) GROUP BY doc_id, t),
        |freq AS (SELECT t, sum(tf) AS f FROM tf GROUP BY t),
        |tot AS (SELECT sum(f) AS n_corpus FROM freq),
        |nll AS (
        |  SELECT doc_id,
        |    round(ln(CAST(n_corpus AS DOUBLE))
        |      - sum(CAST(tf AS DOUBLE) * ln(CAST(f AS DOUBLE)))
        |        / CAST(sum(tf) AS DOUBLE), 6) AS unigram_nll
        |  FROM tf JOIN freq USING (t), tot
        |  GROUP BY doc_id, n_corpus),
        |b AS (
        |  SELECT doc_id, unigram_nll,
        |    NTILE(3) OVER (ORDER BY unigram_nll, doc_id) AS nb FROM nll)
        |SELECT doc_id, unigram_nll,
        |  CASE nb WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS ppl_bucket
        |FROM b""".stripMargin,

    // mirrors balancedPositions: per-source md5 rank -> stratum key
    // r/(cnt+1), global order by (stratum, md5, id). The double division
    // is exact integer-derived IEEE arithmetic — identical both engines.
    "ta17_balanced_order" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS cnt,
        |    md5(CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents)
        |SELECT doc_id, source,
        |  row_number() OVER (ORDER BY CAST(rk AS DOUBLE) / (cnt + 1.0),
        |    skey, doc_id) - 1 AS position
        |FROM r""".stripMargin,

    "t6_stream_agg" ->
      """SELECT max(ts) AS ts, user_id,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS value
        |FROM events GROUP BY user_id""".stripMargin,

    "t5_window_agg" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS wstart, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "mm1_multimodal" ->
      """SELECT doc_id AS media_id, strlen(text) AS n_bytes,
        |  CAST(((strlen(text) + 63) // 64 + 1) // 2 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin
  )
}
