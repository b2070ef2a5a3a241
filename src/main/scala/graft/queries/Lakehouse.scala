package graft.queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Io
import Tables.{t, tp}

/** Table formats and their files: Delta, Iceberg and Hudi logs and
  * scans, table maintenance plans, and Parquet/ORC/Avro metadata and
  * typed reads.
  */
object Lakehouse {

  def specs: Seq[QuerySpec] = Seq(
    // ----- parquet ZONE-MAP census (the thrift Statistics field
    // of the public parquet-format spec): per (row group, leaf
    // column) min/max/null-count — the facts file-skipping at
    // 100 TB lives on — replayed against what Spark's parquet-mr
    // planted in the committed fixtures, footer-only
    QuerySpec("q_parquet_stats",
      // every zone-map fact must replay what parquet-mr planted
      """WITH p AS (SELECT doc_id, doc_id % 2 AS k
           FROM documents)
         SELECT doc_id, 0 AS rg, 'id' AS col_path,
           'int64' AS ptype,
           CASE k WHEN 0 THEN 100 ELSE 300 END::BIGINT
             AS num_values,
           0::BIGINT AS null_count, 0::BIGINT AS min_long,
           CASE k WHEN 0 THEN 99 ELSE 299 END::BIGINT
             AS max_long,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str FROM p
         UNION ALL
         SELECT doc_id, 0,
           CASE k WHEN 0 THEN 'name' ELSE 'grp' END,
           CASE k WHEN 0 THEN 'byte_array' ELSE 'int64' END,
           CASE k WHEN 0 THEN 100 ELSE 300 END, 0,
           CASE k WHEN 0 THEN NULL ELSE 0 END,
           CASE k WHEN 0 THEN NULL ELSE 6 END,
           CASE k WHEN 0 THEN 'name-0' ELSE NULL END,
           CASE k WHEN 0 THEN 'name-99' ELSE NULL END FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ps = ParquetMeta.synthStatsParquets(d, "doc_id",
        "content")
      ParquetMeta.statsRows(ps, "doc_id", "content")
        .select(col("doc_id"), col("rg"), col("col_path"),
          col("ptype"), col("num_values"), col("null_count"),
          col("min_long"), col("max_long"), col("min_str"),
          col("max_str"))
    }),
    // ----- Delta Lake commit-log census (the public Delta
    // transaction protocol): planted commits with adds/removes/
    // metaData replayed closed-form; corrupt lines refuse — Delta
    // readers cannot skip bad commit lines
    QuerySpec("q_delta_log",
      // every planted commit must replay its action counts, added
      // bytes and protocol facts closed-form
      """WITH p AS (SELECT doc_id, doc_id % 4 + 1 AS a,
           doc_id % 3 AS r, doc_id % 1000 AS s FROM documents)
         SELECT doc_id,
           (3 + a + r)::INT AS n_actions,
           a::INT AS n_add, r::INT AS n_remove, 1 AS n_other,
           (a * (100 + s) + a * (a - 1) / 2)::BIGINT AS add_bytes,
           r::INT AS n_partition_cols,
           1 AS min_reader, 2 AS min_writer,
           'parquet' AS provider
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ds = DeltaLog.synthDeltas(d, "doc_id", "content")
      Multimodal.decodeBatches(ds, "content",
          DeltaLog.deltaSchema)(DeltaLog.decodeDelta)
        .select(col("doc_id"), col("n_actions"), col("n_add"),
          col("n_remove"), col("n_other"), col("add_bytes"),
          col("n_partition_cols"), col("min_reader"),
          col("min_writer"), col("provider"))
    }),
    // ----- Delta CHECKPOINT parquet (round 18 — how a reader
    // actually scales past thousands of commits): a planted
    // checkpointed table is written (JSON commits + a checkpoint
    // parquet + _last_checkpoint), then the checkpoint-rooted
    // snapshot (_last_checkpoint → parquet scan → JSON tail) is
    // reconciled against the full raw-JSON replay with a full
    // outer join — every file must land in BOTH with equal sizes,
    // and the oracle replays the planted live set closed-form
    QuerySpec("q_delta_checkpoint",
      // the planted checkpointed table's live set, closed-form:
      // version v adds f-v-j (j <= v%4) of size 100*(v+1)+j; v>=2
      // removes f-(v-2)-0 — so j=0 files of versions 0..7 are dead
      // after v9, and both reconciliation paths must agree on the
      // rest ('both', equal sizes)
      """WITH f AS (SELECT v.v, j.j
           FROM unnest(generate_series(0, 9)) AS v(v),
                unnest(generate_series(0, 3)) AS j(j)
           WHERE j.j <= v.v % 4)
         SELECT 'f-' || v || '-' || j || '.parquet' AS path,
           CAST(100 * (v + 1) + j AS BIGINT) AS size_ckpt,
           CAST(100 * (v + 1) + j AS BIGINT) AS size_json,
           'both' AS status
         FROM f WHERE NOT (j = 0 AND v <= 7)""",
      (s, dir) => {
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_q_delta_ckpt"
      DeltaLog.writeCheckpointedTable(s, path)
      val ckpt = DeltaLog.snapshotFiles(s, path)
        .withColumnRenamed("size", "size_ckpt")
      val json = DeltaLog.replayFiles(s, path)
        .withColumnRenamed("size", "size_json")
      ckpt.join(json, Seq("path"), "full_outer")
        .select(col("path"), col("size_ckpt"), col("size_json"),
          when(col("size_ckpt").isNotNull &&
              col("size_json").isNotNull, lit("both"))
            .when(col("size_ckpt").isNotNull, lit("ckpt_only"))
            .otherwise(lit("json_only")).as("status"))
    }),
    // ----- Delta DELETION VECTORS (round 18 — row-level deletes
    // without rewriting data files): the stored DV blob (version +
    // BE size + CRC32 frame) wraps a 64-bit RoaringBitmapArray in
    // the portable format; all three 32-bit container kinds
    // (array / bitmap / run) are planted and censused, and the
    // live probes ARE the MOR filter decision — a deleted row must
    // test present, a kept row absent, and live_0_40 counts the
    // survivors of the table's first 40 positions
    QuerySpec("q_delta_dv",
      // every planted DV fact replayed closed-form: array card is
      // count{p<100 : p%7 = doc_id%7}, the run pair always holds
      // 100, the even-id bitmap holds every even low16 (32768), and
      // the probes/live counts are pure arithmetic
      """WITH p AS (SELECT doc_id, doc_id % 3 AS hi,
           doc_id % 1000 AS a, doc_id % 7 AS r7,
           doc_id % 2 AS even FROM documents)
         SELECT doc_id, 1 AS n_high_keys,
           CAST((CASE WHEN r7 <= 1 THEN 15 ELSE 14 END) + 100 +
             CASE WHEN even = 0 THEN 32768 ELSE 0 END AS BIGINT)
             AS cardinality,
           1 AS n_array,
           CASE WHEN even = 0 THEN 1 ELSE 0 END AS n_bitmap,
           1 AS n_run,
           CAST(hi * 4294967296 + r7 AS BIGINT) AS dv_min,
           CAST(hi * 4294967296 + CASE WHEN even = 0
             THEN 2 * 65536 + 65534
             ELSE 65536 + a + 149 END AS BIGINT) AS dv_max,
           TRUE AS member_hit, FALSE AS absent_hit,
           CAST(40 - CASE WHEN r7 <= 4 THEN 6 ELSE 5 END AS INT)
             AS live_0_40
         FROM p""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"))
      DeletionVectors.dvRows(d, "doc_id")
        .select(col("doc_id"), col("n_high_keys"),
          col("cardinality"), col("n_array"), col("n_bitmap"),
          col("n_run"), col("dv_min"), col("dv_max"),
          col("member_hit"), col("absent_hit"), col("live_0_40"))
    }),
    // ----- Delta TIME TRAVEL (round 18): the table state AS OF
    // every version — removes resolve their sizes against the add
    // records (one join, as a real reader does), then ONE
    // cumulative window over the per-version deltas; the window
    // frame is log-length (versions), metadata-sized at any data
    // scale
    QuerySpec("q_delta_time_travel",
      // state-as-of replay: version w adds files j <= w%4 of size
      // 100(w+1)+j; w >= 2 removes f-(w-2)-0 (size 100(w-1))
      """WITH v AS (SELECT t.v FROM
             unnest(generate_series(0, 9)) AS t(v)),
         adds AS (SELECT w.v AS w, j.j FROM
             unnest(generate_series(0, 9)) AS w(v),
             unnest(generate_series(0, 3)) AS j(j)
           WHERE j.j <= w.v % 4)
         SELECT CAST(v.v AS BIGINT) AS version,
           CAST((SELECT COUNT(*) FROM adds WHERE w <= v.v)
             - GREATEST(0, v.v - 1) AS BIGINT) AS n_live,
           CAST((SELECT SUM(100 * (w + 1) + j) FROM adds
               WHERE w <= v.v)
             - (SELECT COALESCE(SUM(100 * (r.v - 1)), 0) FROM
                unnest(generate_series(2, 9)) AS r(v)
                WHERE r.v <= v.v) AS BIGINT) AS live_bytes
         FROM v""",
      (s, dir) => {
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_q_delta_ckpt"
      DeltaLog.writeCheckpointedTable(s, path)
      DeltaLog.timeTravel(s, path)
        .select(col("version"), col("n_live"), col("live_bytes"))
    }),
    // ----- VACUUM planning (round 18): remove tombstones older
    // than the retention cutoff are physically deletable; younger
    // ones must stay for time travel — the split a vacuum job
    // computes before touching storage
    QuerySpec("q_vacuum_plan",
      // retention split at cutoff 1700000005500: removes (versions
      // 2..9, ts = 1.7e12 + 1000v) from v in 2..5 are deletable —
      // files f-0-0..f-3-0 of sizes 100..400 — v in 6..9 retained
      """SELECT TRUE AS deletable, 4 AS n_files,
           1000::BIGINT AS bytes
         UNION ALL
         SELECT FALSE, 4, 2600::BIGINT""",
      (s, dir) => {
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_q_delta_ckpt"
      DeltaLog.writeCheckpointedTable(s, path)
      DeltaLog.vacuumPlan(s, path, cutoffMs = 1700000005500L)
        .select(col("deletable"), col("n_files"), col("bytes"))
    }),
    // ----- ORC footer triage from raw bytes (the public Apache
    // ORC spec): the committed fixtures are written by Spark's own
    // ORC writer across five codecs (none/zlib/snappy/zstd/lz4), a
    // nested schema and a multi-stripe file; the walk must replay
    // what the reference writer planted, footer-only
    QuerySpec("q_orc_meta",
      // the footer walk must replay the reference ORC writer's
      // metadata across all five codec layouts
      """SELECT doc_id,
           CASE doc_id % 5 WHEN 0 THEN 'none' WHEN 1 THEN 'zlib'
             WHEN 2 THEN 'snappy' WHEN 3 THEN 'zstd'
             ELSE 'lz4' END AS codec,
           CASE doc_id % 5 WHEN 0 THEN 100 WHEN 1 THEN 250
             WHEN 2 THEN 50 WHEN 3 THEN 20000 ELSE 300 END
             ::BIGINT AS num_rows,
           CASE doc_id % 5 WHEN 3 THEN 2 ELSE 1 END::INT
             AS n_stripes,
           CASE doc_id % 5 WHEN 0 THEN 100 WHEN 1 THEN 250
             WHEN 2 THEN 50 WHEN 3 THEN 20000 ELSE 300 END
             ::BIGINT AS stripe_rows,
           CASE doc_id % 5 WHEN 0 THEN 3 WHEN 1 THEN 4
             WHEN 2 THEN 7 WHEN 3 THEN 3 ELSE 4 END::INT
             AS n_types,
           CASE doc_id % 5 WHEN 0 THEN 'id,name'
             WHEN 1 THEN 'id,v,s' WHEN 2 THEN 'id,info,arr'
             WHEN 3 THEN 'id,txt' ELSE 'id,flag,sm' END
             AS col_names,
           CASE doc_id % 5 WHEN 0 THEN 'long,string'
             WHEN 1 THEN 'long,double,string'
             WHEN 2 THEN 'long,struct,list'
             WHEN 3 THEN 'long,string'
             ELSE 'long,boolean,short' END AS kinds
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val os = Orc.synthOrcs(d, "doc_id", "content")
      Multimodal.decodeBatches(os, "content",
          Orc.orcSchema)(Orc.decodeOrc)
        .select(col("doc_id"), col("codec"), col("num_rows"),
          col("n_stripes"), col("stripe_rows"), col("n_types"),
          col("col_names"), col("kinds"))
    }),
    // ----- compaction planning (round 17 — the small-files problem
    // every streaming-ingested 100 TB table has): next-fit
    // bin-packing of a file census into target-sized rewrite
    // groups, as ONE windowed cumulative sum PARTITIONED by the
    // table partition (parallel across partitions, never a global
    // sort) + a hash aggregate
    QuerySpec("q_compaction_plan",
      // the identical window arithmetic replayed: next-fit bin =
      // exclusive-prefix bytes DIV target, then per-bin aggregates
      """WITH f AS (SELECT doc_id,
             'p' || CAST(doc_id % 7 AS VARCHAR) AS part,
             (doc_id * 37) % 900 + 100 AS size FROM documents),
         c AS (SELECT part, size,
             SUM(size) OVER (PARTITION BY part ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum FROM f)
         SELECT part, CAST((cum - size) // 1024 AS BIGINT) AS bin,
           COUNT(*)::INT AS n_files, SUM(size)::BIGINT AS bytes,
           SUM(size) < 512 AS undersized
         FROM c GROUP BY part, (cum - size) // 1024""",
      (s, dir) => {
      val files = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("p"), (col("doc_id") % 7)).as("part"),
        ((col("doc_id") * 37) % 900 + 100).cast("bigint")
          .as("size"))
      Maintenance.compactionPlan(files, "part", "size", "doc_id",
          target = 1024L)
        .select(col("part"), col("bin"), col("n_files"),
          col("bytes"), col("undersized"))
    }),
    // ----- compaction EXECUTION (round 18 — plan→act, like
    // Layout.zorderWrite did for Z-order): the per-file bin
    // assignment rides a broadcast join onto the data (the census
    // is metadata-sized at any data scale), ONE hash shuffle
    // co-locates each (partition, bin), and the partitioned write
    // makes every bin exactly one file. The read-back proves BOTH
    // content preservation (row counts and quantity sums per
    // partition survive the rewrite) and the physical claim
    // (files written == bins planned, via input_file_name) — the
    // oracle replays the bin arithmetic in SQL
    QuerySpec("q_compaction_apply",
      // the rewrite must preserve content exactly (counts and sums
      // per partition) and produce one file per planned bin; the bin
      // count replays via the same next-fit window in SQL
      """WITH d AS (SELECT l_returnflag AS part,
             l_orderkey % 37 AS file_id, l_quantity
           FROM lineitem WHERE l_orderkey % 10 = 0),
         census AS (SELECT part, file_id, COUNT(*) AS n_rows
           FROM d GROUP BY 1, 2),
         a AS (SELECT part, file_id,
             (SUM(n_rows) OVER (PARTITION BY part ORDER BY file_id
                ROWS UNBOUNDED PRECEDING) - n_rows) // 5000 AS bin
           FROM census),
         bins AS (SELECT part, COUNT(DISTINCT bin)::INT AS n_bins
           FROM a GROUP BY part)
         SELECT d.part, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty,
           b.n_bins, b.n_bins AS n_files, TRUE AS files_eq_bins
         FROM d JOIN bins b ON d.part = b.part
         GROUP BY d.part, b.n_bins""",
      (s, dir) => {
      val d = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_returnflag").as("part"),
          (col("l_orderkey") % 37).cast("bigint").as("file_id"),
          col("l_quantity"))
      val census = d.groupBy(col("part"), col("file_id"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"))
      val assign = Maintenance.compactionAssign(census, "part",
        "n_rows", "file_id", target = 5000L)
      val path = s"${System.getProperty("java.io.tmpdir")}" +
        "/graft_q_compaction_apply"
      Maintenance.compactionApply(d, "part", "file_id", assign, path)
      Io.readParquet(s, path)
        .withColumn("__file", input_file_name())
        .groupBy(col("part"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"),
          countDistinct(col("bin")).cast("int").as("n_bins"),
          countDistinct(col("__file")).cast("int").as("n_files"))
        .withColumn("files_eq_bins", col("n_files") === col("n_bins"))
    }),
    // ----- orphan-file sweep (round 17): storage listing LEFT ANTI
    // joined against the paths the Iceberg manifests actually
    // reference (decoded from the Avro tier, exploded engine-side)
    // — failed writes and expired snapshots surface as per-table
    // orphan counts/bytes; the anti join shuffles on the path, no
    // per-file driver loop anywhere
    QuerySpec("q_orphan_files",
      // listed-but-unreferenced arithmetic: listing carries e in
      // [0, doc_id%5], the manifests reference e in [0, doc_id%4];
      // docs with no orphans produce no row (anti-join semantics)
      """WITH p AS (SELECT doc_id, doc_id % 5 AS lmax,
             doc_id % 4 + 1 AS m FROM documents)
         SELECT doc_id, CAST(lmax - m + 1 AS INT) AS n_orphans,
           CAST((SELECT SUM(1000 + t.e)
             FROM unnest(generate_series(0, 4)) AS t(e)
             WHERE t.e >= m AND t.e <= lmax) AS BIGINT)
             AS orphan_bytes
         FROM p WHERE lmax >= m""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val mf = Iceberg.synthManifests(d, "doc_id", "content")
      val refPaths = Multimodal.decodeBatches(mf, "content",
          Iceberg.manifestPathsSchema)(Iceberg.decodeManifestPaths)
        .select(explode(split(col("paths_csv"), ","))
          .as("ref_path"))
      val listing = d.select(col("doc_id"),
          explode(sequence(lit(0),
            (col("doc_id") % 5).cast("int"))).as("e"))
        .select(col("doc_id"),
          concat(lit("s3://lake/data/f"), col("doc_id"), lit("-"),
            col("e"), lit(".parquet")).as("path"),
          (lit(1000) + col("e")).cast("bigint").as("size"))
      Maintenance.orphanFiles(listing, "path", "size", "doc_id",
          refPaths, "ref_path")
        .select(col("doc_id"), col("n_orphans"),
          col("orphan_bytes"))
    }),
    // ----- clustering depth (round 17 — the read-amplification
    // metric behind Z-order/OPTIMIZE decisions): per partition, the
    // max number of files a point lookup must read given each
    // file's [min,max] zone map, via a distributed boundary sweep —
    // union of +1/-1 events, ONE partitioned-window cumulative sum,
    // and the exact depth integral kept as two integers so the
    // result is engine-exact
    // ----- OPTIMIZE planner (round 18 — the maintenance DECISION,
    // composing the file-size census with the clustering-depth
    // sweep): per partition, too many undersized files → compact;
    // healthy sizes but deep zone-map overlap → recluster; else
    // nothing. The decision a table service makes before spending
    // a rewrite — both inputs are existing plans, one broadcast
    // join (7 partition rows) stitches them
    QuerySpec("q_optimize_plan",
      // the decision replayed: the same size census + boundary
      // sweep, stitched per partition
      """WITH f AS (SELECT 'p' || CAST(doc_id % 7 AS VARCHAR)
             AS part,
             (doc_id * 37) % 900 + 100 + (doc_id % 7) * 80
               AS size,
             (doc_id * 13) % 1000 AS lo,
             (doc_id * 13) % 1000 + (doc_id * 7) % 200 AS hi
           FROM documents),
         sz AS (SELECT part, COUNT(*)::INT AS n_files,
             SUM(CASE WHEN size < 512 THEN 1 ELSE 0 END)::INT
               AS n_small
           FROM f GROUP BY part),
         ev AS (SELECT part, k, SUM(d) AS d FROM (
             SELECT part, lo AS k, 1 AS d FROM f
             UNION ALL
             SELECT part, hi + 1 AS k, -1 AS d FROM f)
           GROUP BY part, k),
         c AS (SELECT part,
             SUM(d) OVER (PARTITION BY part ORDER BY k
               ROWS UNBOUNDED PRECEDING) AS depth
           FROM ev),
         dp AS (SELECT part, CAST(MAX(depth) AS INT) AS max_depth
           FROM c GROUP BY part)
         SELECT sz.part, n_files, n_small, max_depth,
           CASE WHEN n_small * 3 > n_files THEN 'compact'
             WHEN max_depth > 8 THEN 'recluster'
             ELSE 'none' END AS action
         FROM sz JOIN dp ON sz.part = dp.part""",
      (s, dir) => {
      val files = t(s, dir, "documents").select(
        concat(lit("p"), col("doc_id") % 7).as("part"),
        ((col("doc_id") * 37) % 900 + 100 +
          (col("doc_id") % 7) * 80).as("size"),
        ((col("doc_id") * 13) % 1000).as("lo"),
        ((col("doc_id") * 13) % 1000 + (col("doc_id") * 7) % 200)
          .as("hi"))
      val sizes = files.groupBy(col("part"))
        .agg(count(lit(1)).cast("int").as("n_files"),
          sum(when(col("size") < 512, 1).otherwise(0)).cast("int")
            .as("n_small"))
      val depth = Maintenance.clusteringDepth(files, "part", "lo",
          "hi")
        .select(col("part"), col("max_depth"))
      sizes.join(depth, Seq("part"))
        .select(col("part"), col("n_files"), col("n_small"),
          col("max_depth"),
          when(col("n_small") * 3 > col("n_files"), lit("compact"))
            .when(col("max_depth") > 8, lit("recluster"))
            .otherwise(lit("none")).as("action"))
    }),
    QuerySpec("q_clustering_depth",
      // the identical boundary-sweep arithmetic replayed in SQL
      """WITH f AS (SELECT doc_id % 5 AS part,
             (doc_id * 13) % 1000 AS lo,
             (doc_id * 13) % 1000 + (doc_id * 7) % 200 AS hi
           FROM documents),
         ev AS (SELECT part, k, SUM(d) AS d FROM (
             SELECT part, lo AS k, 1 AS d FROM f
             UNION ALL
             SELECT part, hi + 1 AS k, -1 AS d FROM f)
           GROUP BY part, k),
         c AS (SELECT part, k,
             SUM(d) OVER (PARTITION BY part ORDER BY k
               ROWS UNBOUNDED PRECEDING) AS depth,
             LEAD(k) OVER (PARTITION BY part ORDER BY k) AS nk
           FROM ev)
         SELECT part, CAST(MAX(depth) AS INT) AS max_depth,
           CAST(SUM(CASE WHEN nk IS NULL THEN 0
             ELSE depth * (nk - k) END) AS BIGINT) AS depth_area,
           CAST(SUM(CASE WHEN nk IS NULL THEN 0 ELSE nk - k END)
             AS BIGINT) AS span_len,
           COUNT(*)::INT AS n_boundaries
         FROM c GROUP BY part""",
      (s, dir) => {
      val files = t(s, dir, "documents").select(
        (col("doc_id") % 5).as("part"),
        ((col("doc_id") * 13) % 1000).as("lo"),
        ((col("doc_id") * 13) % 1000 + (col("doc_id") * 7) % 200)
          .as("hi"))
      Maintenance.clusteringDepth(files, "part", "lo", "hi")
        .select(col("part"), col("max_depth"), col("depth_area"),
          col("span_len"), col("n_boundaries"))
    }),
    // ----- parquet split-block BLOOM filters (round 17 — the third
    // skipping mechanism after row-group zone maps and ORC stripe
    // stats): the skipping-machinery census (bloom + page-index
    // offsets) plus LIVE membership probes — the filter parses once
    // per partition, then per-row xxHash64 split-block checks; a
    // member probe must hit (no false negatives), the absent probe
    // rides the committed fixture's golden zero-FP range, so a
    // single hash or salt-table slip breaks 500 rows
    QuerySpec("q_parquet_bloom",
      // fixture goldens (8192-byte filters, zero FPs over the probe
      // range) + the bloom contract (members always hit)
      """SELECT doc_id, 'id,s' AS bloom_cols, 2 AS n_index_cols,
           8192 AS bloom_nbytes,
           'block/xxhash/uncompressed' AS algo,
           TRUE AS member_hit, TRUE AS s_member_hit,
           FALSE AS absent_hit, FALSE AS s_absent_hit
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      ParquetMeta.bloomRows(d, "doc_id")
        .select(col("doc_id"), col("bloom_cols"),
          col("n_index_cols"), col("bloom_nbytes"), col("algo"),
          col("member_hit"), col("s_member_hit"),
          col("absent_hit"), col("s_absent_hit"))
    }),
    // ----- the LAKEHOUSE-metadata omni compose (round 17): one
    // sniff-routed dispatch over the scan-planning tier — Delta
    // commit logs (full action-by-action JSON census, never a
    // text guess), both Iceberg Avro tiers (told apart by their
    // spec field names after the Avro magic routes them), and
    // parquet/ORC footers — flattened to one (label, fact,
    // measure) shape; the oracle replays every planted fact, so a
    // misroute anywhere breaks the hash
    QuerySpec("q_lakehouse_omni",
      // one CASE per routed kind: the delta add-bytes sum, the
      // iceberg list/manifest aggregates (via per-kind unnest CTEs),
      // and the parquet/ORC fixture facts keyed by (doc_id//5)%5
      """WITH base AS (SELECT doc_id, doc_id % 8 AS k,
             (doc_id // 8) % 5 AS fx, doc_id % 3 + 1 AS n,
             doc_id % 4 + 1 AS m, doc_id % 4 + 1 AS a
           FROM documents),
         lst AS (SELECT doc_id,
             array_to_string(list_sort(list_distinct(
               list((doc_id + t.j) % 4))), ',') AS spec_ids,
             SUM(100 * doc_id + t.j)::BIGINT AS added_rows
           FROM base, unnest(generate_series(0, 2)) AS t(j)
           WHERE t.j < n AND k = 1 GROUP BY doc_id),
         mf AS (SELECT doc_id,
             array_to_string(list_sort(list_distinct(list(
               CASE (doc_id + t.e) % 3 WHEN 0 THEN 'PARQUET'
                 WHEN 1 THEN 'ORC' ELSE 'AVRO' END))), ',')
               AS formats,
             SUM(50 * doc_id + t.e)::BIGINT AS rows_sum
           FROM base, unnest(generate_series(0, 3)) AS t(e)
           WHERE t.e < m AND k = 2 GROUP BY doc_id),
         pd AS (SELECT doc_id,
             SUM(3 + CASE WHEN (doc_id + t.e) % 3 = 0 THEN 1
               ELSE 0 END)::BIGINT AS n_del
           FROM base, unnest(generate_series(0, 3)) AS t(e)
           WHERE t.e < m AND k = 7 GROUP BY doc_id)
         SELECT b.doc_id,
           CASE k WHEN 0 THEN 'application/x-delta-log'
             WHEN 1 THEN 'application/x-iceberg-manifest-list'
             WHEN 2 THEN 'application/x-iceberg-manifest'
             WHEN 3 THEN 'application/vnd.apache.parquet'
             WHEN 4 THEN 'application/x-orc'
             WHEN 5 THEN 'application/x-iceberg-metadata'
             WHEN 6 THEN 'application/x-delta-dv'
             ELSE 'application/x-iceberg-pos-delete' END AS label,
           CASE k WHEN 0 THEN 'parquet'
             WHEN 1 THEN lst.spec_ids
             WHEN 2 THEN mf.formats
             WHEN 3 THEN (CASE fx WHEN 0 THEN 'uncompressed'
               WHEN 1 THEN 'snappy' WHEN 2 THEN 'gzip'
               WHEN 3 THEN 'zstd' ELSE 'lz4' END)
             WHEN 4 THEN (CASE fx WHEN 0 THEN 'none'
               WHEN 1 THEN 'zlib' WHEN 2 THEN 'snappy'
               WHEN 3 THEN 'zstd' ELSE 'lz4' END)
             WHEN 5 THEN (CASE b.doc_id % 3 WHEN 0 THEN 'parquet'
               WHEN 1 THEN 'orc' ELSE 'avro' END)
             WHEN 6 THEN 'maps=1'
             ELSE 'pos-delete' END AS fact,
           CAST(CASE k
             WHEN 0 THEN a * 100 * b.doc_id + a * (a - 1) / 2
             WHEN 1 THEN lst.added_rows
             WHEN 2 THEN mf.rows_sum
             WHEN 3 THEN (CASE fx WHEN 0 THEN 100 WHEN 1 THEN 250
               WHEN 2 THEN 50 WHEN 3 THEN 20000 ELSE 300 END)
             WHEN 4 THEN (CASE fx WHEN 0 THEN 100 WHEN 1 THEN 250
               WHEN 2 THEN 50 WHEN 3 THEN 20000 ELSE 300 END)
             WHEN 5 THEN 1000 * b.doc_id + b.doc_id % 4 + 1
             WHEN 6 THEN (CASE WHEN b.doc_id % 7 <= 1 THEN 15
                 ELSE 14 END) + 100 +
               (CASE WHEN b.doc_id % 2 = 0 THEN 32768 ELSE 0 END)
             ELSE pd.n_del
             END AS BIGINT) AS measure
         FROM base b LEFT JOIN lst USING (doc_id)
           LEFT JOIN mf USING (doc_id)
           LEFT JOIN pd USING (doc_id)""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"))
      val lh = LakehouseOmni.synthLakehouse(d, "doc_id", "content")
      Multimodal.decodeBatches(lh, "content",
          LakehouseOmni.lakehouseSchema)(
          LakehouseOmni.decodeLakehouse)
        .select(col("doc_id"), col("label"), col("fact"),
          col("measure"))
    }),
    // ----- Iceberg MANIFEST LIST census (the public Iceberg table
    // spec v2; round 17): the snapshot's scan-planning tier — Avro
    // manifest_file records with nested field_summary arrays,
    // nullable unions and bound bytes — decoded end-to-end through
    // the in-house Avro surface; every planted count/sequence/spec
    // fact replays closed-form, so a mis-decode anywhere in the
    // nested tree breaks the hash
    QuerySpec("q_iceberg_manifests",
      // every planted manifest-list fact replayed closed-form over a
      // two-level unnest (manifests × partition summaries)
      """WITH base AS (SELECT doc_id, doc_id % 3 + 1 AS n,
             doc_id % 2 + 1 AS np FROM documents),
         j AS (SELECT doc_id, n, np, t.j FROM base,
             unnest(generate_series(0, 2)) AS t(j) WHERE t.j < n),
         jp AS (SELECT doc_id, j.j, u.p FROM j,
             unnest(generate_series(0, 1)) AS u(p)
           WHERE u.p < np AND j.j % 3 <> 2),
         agg_j AS (SELECT doc_id,
             COUNT(*)::INT AS n_manifests,
             SUM((doc_id + j) % 10)::BIGINT AS total_added_files,
             SUM(100 * doc_id + j)::BIGINT AS total_added_rows,
             SUM((doc_id + j) % 3)::BIGINT AS total_deleted_files,
             MAX(doc_id + j)::BIGINT AS max_seq,
             MIN(doc_id)::BIGINT AS min_seq,
             array_to_string(list_sort(list_distinct(
               list((doc_id + j) % 4))), ',') AS spec_ids,
             SUM(CASE WHEN j % 3 = 2 THEN 1 ELSE 0 END)::INT
               AS n_null_partitions
           FROM j GROUP BY doc_id),
         agg_p AS (SELECT doc_id,
             COUNT(*)::INT AS n_summaries,
             SUM(CASE WHEN (doc_id + j + p) % 2 = 0 THEN 1 ELSE 0
               END)::INT AS n_contains_null,
             SUM(CASE WHEN (doc_id + p) % 3 = 0 THEN 1 ELSE 0
               END)::INT AS n_missing_upper
           FROM jp GROUP BY doc_id)
         SELECT b.doc_id, n_manifests, total_added_files,
           total_added_rows, total_deleted_files, max_seq, min_seq,
           spec_ids, n_null_partitions,
           COALESCE(n_summaries, 0)::INT AS n_summaries,
           COALESCE(n_contains_null, 0)::INT AS n_contains_null,
           COALESCE(n_missing_upper, 0)::INT AS n_missing_upper,
           's3://lake/meta/snap-' || b.doc_id || '-m0.avro'
             AS first_path
         FROM base b JOIN agg_j USING (doc_id)
           LEFT JOIN agg_p USING (doc_id)""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ml = Iceberg.synthManifestLists(d, "doc_id", "content")
      Multimodal.decodeBatches(ml, "content",
          Iceberg.manifestListSchema)(Iceberg.decodeManifestList)
        .select(col("doc_id"), col("n_manifests"),
          col("total_added_files"), col("total_added_rows"),
          col("total_deleted_files"), col("max_seq"),
          col("min_seq"), col("spec_ids"),
          col("n_null_partitions"), col("n_summaries"),
          col("n_contains_null"), col("n_missing_upper"),
          col("first_path"))
    }),
    // ----- Iceberg MANIFEST FILE census: manifest_entry records
    // with the nested data_file record, partition tuple, and the
    // spec's array-of-key/value int-keyed stats maps
    QuerySpec("q_iceberg_entries",
      // manifest entries: status histogram, nested data_file sums,
      // the int-keyed stats map total, distinct formats
      """WITH base AS (SELECT doc_id, doc_id % 4 + 1 AS m,
             doc_id % 3 + 1 AS nc FROM documents),
         e AS (SELECT doc_id, m, nc, t.e FROM base,
             unnest(generate_series(0, 3)) AS t(e) WHERE t.e < m)
         SELECT doc_id,
           COUNT(*)::INT AS n_entries,
           SUM(CASE WHEN e % 3 = 0 THEN 1 ELSE 0 END)::INT
             AS n_existing,
           SUM(CASE WHEN e % 3 = 1 THEN 1 ELSE 0 END)::INT
             AS n_added,
           SUM(CASE WHEN e % 3 = 2 THEN 1 ELSE 0 END)::INT
             AS n_deleted,
           SUM(CASE WHEN e % 4 = 3 THEN 1 ELSE 0 END)::INT
             AS n_null_snap,
           SUM(50 * doc_id + e)::BIGINT AS rows_sum,
           SUM(1024 * (e + 1))::BIGINT AS bytes_sum,
           array_to_string(list_sort(list_distinct(list(
             CASE (doc_id + e) % 3 WHEN 0 THEN 'PARQUET'
               WHEN 1 THEN 'ORC' ELSE 'AVRO' END))), ',')
             AS formats,
           SUM((doc_id + e) % 8)::BIGINT AS bucket_sum,
           SUM(CASE WHEN e % 2 = 0
             THEN 10 * doc_id * nc + nc * (nc - 1) / 2
             ELSE 0 END)::BIGINT AS colsize_sum
         FROM e GROUP BY doc_id, m, nc""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"))
      val mf = Iceberg.synthManifests(d, "doc_id", "content")
      Multimodal.decodeBatches(mf, "content",
          Iceberg.manifestSchema)(Iceberg.decodeManifest)
        .select(col("doc_id"), col("n_entries"), col("n_existing"),
          col("n_added"), col("n_deleted"), col("n_null_snap"),
          col("rows_sum"), col("bytes_sum"), col("formats"),
          col("bucket_sum"), col("colsize_sum"))
    }),
    // ----- Iceberg v2 SEQUENCE-NUMBER pairing (round 18 — the
    // rule that decides which delete manifests APPLY to which data
    // manifests at scan time: a delete applies to data at or below
    // its own sequence number): per-manifest (content, seq) pairs
    // from the manifest list, the pairing count computed
    // engine-side with nested array lambdas — zero UDFs, zero
    // joins (the per-table manifest list is array-sized)
    QuerySpec("q_iceberg_seq_pairing",
      // pairing replay over the planted list: manifest j has
      // content j%2 and seq doc_id+j, so data js are {0} ∪ {2 if
      // n=3}, the only delete is j=1 (when n>=2), and it applies
      // only to data j=0
      """WITH p AS (SELECT doc_id, doc_id % 3 + 1 AS n
           FROM documents)
         SELECT doc_id, n::INT AS n_manifests,
           (1 + CASE WHEN n = 3 THEN 1 ELSE 0 END)::INT AS n_data,
           (CASE WHEN n >= 2 THEN 1 ELSE 0 END)::INT AS n_delete,
           (CASE WHEN n >= 2 THEN 1 ELSE 0 END)::INT
             AS applied_pairs
         FROM p""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"))
      val ml = Iceberg.synthManifestLists(d, "doc_id", "content")
      val dec = Multimodal.decodeBatches(ml, "content",
          Iceberg.manifestPairsSchema)(Iceberg.decodeManifestPairs)
      val pairs = split(col("pairs_csv"), ",")
      val dataSeqs = transform(
        filter(pairs, p => substring_index(p, ":", 1) === "0"),
        p => substring_index(p, ":", -1).cast("bigint"))
      val delSeqs = transform(
        filter(pairs, p => substring_index(p, ":", 1) === "1"),
        p => substring_index(p, ":", -1).cast("bigint"))
      dec.select(col("doc_id"),
        size(pairs).as("n_manifests"),
        size(dataSeqs).as("n_data"),
        size(delSeqs).as("n_delete"),
        aggregate(dataSeqs, lit(0),
          (acc, s) => acc + size(filter(delSeqs, dd => dd >= s)))
          .as("applied_pairs"))
    }),
    // ----- Iceberg TABLE-LEVEL metadata census (round 18 — the
    // entry point of scan planning the manifest tiers root on):
    // vN.metadata.json with the current-snapshot pointer, the
    // parent-chain ancestry walk (broken/cyclic chains refuse), the
    // snapshot log's monotonicity, schema evolution and partition
    // specs — every planted fact replayed closed-form
    QuerySpec("q_iceberg_snapshots",
      // every planted table-metadata fact replayed closed-form: the
      // n-deep parent chain makes ancestry_depth = n, the log is
      // written monotonic, summary operations cycle by (doc_id+k)%4
      """WITH base AS (SELECT doc_id, doc_id % 4 + 2 AS n,
             doc_id % 2 + 1 AS ns FROM documents),
         k AS (SELECT doc_id, n, ns, t.k FROM base,
             unnest(generate_series(0, 5)) AS t(k) WHERE t.k < n),
         agg AS (SELECT doc_id,
             array_to_string(list_sort(list_distinct(list(
               CASE (doc_id + k) % 4 WHEN 0 THEN 'append'
                 WHEN 1 THEN 'overwrite' WHEN 2 THEN 'delete'
                 ELSE 'replace' END))), ',') AS ops_csv,
             SUM(10 * doc_id + k)::BIGINT AS added_records_sum
           FROM k GROUP BY doc_id)
         SELECT b.doc_id,
           2 AS format_version,
           n::INT AS n_snapshots,
           (1000 * b.doc_id + n - 1)::BIGINT AS current_snapshot_id,
           n::INT AS ancestry_depth,
           n::INT AS n_log_entries,
           TRUE AS log_monotonic,
           ops_csv,
           added_records_sum,
           's3://lake/meta/snap-' || (1000 * b.doc_id + n - 1) ||
             '.avro' AS current_manifest_list,
           ns::INT AS n_schemas,
           (b.doc_id % 3 + ns)::INT AS current_schema_fields,
           (b.doc_id % 3)::INT AS n_spec_fields,
           n::BIGINT AS last_sequence_number,
           CASE b.doc_id % 3 WHEN 0 THEN 'parquet' WHEN 1 THEN 'orc'
             ELSE 'avro' END AS format_default
         FROM base b JOIN agg USING (doc_id)""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val mj = Iceberg.synthMetadataJsons(d, "doc_id", "content")
      Multimodal.decodeBatches(mj, "content",
          Iceberg.metadataJsonSchema)(Iceberg.decodeMetadataJson)
        .select(col("doc_id"), col("format_version"),
          col("n_snapshots"), col("current_snapshot_id"),
          col("ancestry_depth"), col("n_log_entries"),
          col("log_monotonic"), col("ops_csv"),
          col("added_records_sum"), col("current_manifest_list"),
          col("n_schemas"), col("current_schema_fields"),
          col("n_spec_fields"), col("last_sequence_number"),
          col("format_default"))
    }),
    // ----- Iceberg v2 POSITION DELETES + merge-on-read (round 18):
    // the delete payload (an Avro file of (file_path, pos) records)
    // is decoded through the house Avro surface, exploded into join
    // rows, and the MOR read path is the real thing — a left-anti
    // join of the planted data rows on (file_path, pos), the exact
    // shuffle a 100 TB MOR scan does; live counts and value sums
    // replay closed-form
    QuerySpec("q_iceberg_mor",
      // merge-on-read replay: file e in 0..doc_id%4 holds positions
      // 0..9; the delete file removes every pos with
      // pos % 3 == (doc_id + e) % 3; the anti join keeps the rest
      """WITH p AS (SELECT doc_id, doc_id % 4 AS emax
           FROM documents),
         live AS (SELECT doc_id, e.e, g.p FROM p,
             unnest(generate_series(0, 3)) AS e(e),
             unnest(generate_series(0, 9)) AS g(p)
           WHERE e.e <= emax AND g.p % 3 <> (doc_id + e.e) % 3)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(10 * doc_id + p) AS BIGINT) AS live_value_sum
         FROM live GROUP BY doc_id""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val pd = Iceberg.synthPosDeletes(d, "doc_id", "content")
      val deletes = Multimodal.decodeBatches(pd, "content",
          Iceberg.posDeleteSchema)(Iceberg.decodePosDeletes)
        .select(explode(split(col("deletes_csv"), ",")).as("kv"))
        .select(substring_index(col("kv"), "|", 1).as("file_path"),
          substring_index(col("kv"), "|", -1).cast("bigint")
            .as("pos"))
      val data = d
        .select(col("doc_id"), explode(sequence(lit(0),
          (col("doc_id") % 4).cast("int"))).as("e"))
        .select(col("doc_id"),
          concat(lit("s3://lake/data/f"), col("doc_id"), lit("-"),
            col("e"), lit(".parquet")).as("file_path"))
        .select(col("doc_id"), col("file_path"),
          explode(sequence(lit(0L), lit(9L))).as("pos"))
      data.join(deletes, Seq("file_path", "pos"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_live"),
          sum(col("doc_id") * 10 + col("pos")).cast("bigint")
            .as("live_value_sum"))
    }),
    // ----- Iceberg EQUALITY deletes (round 18 — v2's second
    // row-level delete kind): a file of VALUES on the declared
    // equality columns, applied as an anti join on (table, key) —
    // where position deletes key on (file, pos). Same planted data
    // rows as the MOR query, different delete algebra
    QuerySpec("q_iceberg_eqdelete",
      // equality-delete replay: every k in 0..9 with
      // k % 3 == doc_id % 3 is deleted from every file of the table
      """WITH p AS (SELECT doc_id, doc_id % 4 AS emax
           FROM documents),
         live AS (SELECT doc_id, e.e, g.k FROM p,
             unnest(generate_series(0, 3)) AS e(e),
             unnest(generate_series(0, 9)) AS g(k)
           WHERE e.e <= emax AND g.k % 3 <> doc_id % 3)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(k) AS BIGINT) AS live_key_sum
         FROM live GROUP BY doc_id""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ed = Iceberg.synthEqDeletes(d, "doc_id", "content")
      val deletes = Multimodal.decodeBatches(ed, "content",
          Iceberg.eqDeleteSchema)(Iceberg.decodeEqDeletes)
        .select(col("doc_id"),
          explode(split(col("eq_csv"), ",").cast("array<bigint>"))
            .as("k"))
      val data = d
        .select(col("doc_id"), explode(sequence(lit(0),
          (col("doc_id") % 4).cast("int"))).as("e"))
        .select(col("doc_id"), col("e"),
          explode(sequence(lit(0L), lit(9L))).as("k"))
      data.join(deletes, Seq("doc_id", "k"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_live"),
          sum(col("k")).cast("bigint").as("live_key_sum"))
    }),
    // ----- snapshot EXPIRY planning (round 18 — the retention job
    // every lake schedules): which snapshots fall before the
    // cutoff, how much history survives, and the invariant that
    // the CURRENT snapshot is never expirable — the decision
    // computed engine-side with codegen'd array functions over the
    // census's timestamp list, zero UDFs
    QuerySpec("q_snapshot_expire",
      // expiry replay: snapshot k has ts = base + doc_id*1000 + 7k;
      // the cutoff at k = doc_id % n expires exactly the k earlier
      // snapshots, and the current one (k = n-1) never expires
      """WITH p AS (SELECT doc_id, doc_id % 4 + 2 AS n
           FROM documents)
         SELECT doc_id, n::INT AS n_snapshots,
           CAST(1700000000000 + doc_id * 1000 + (doc_id % n) * 7
             AS BIGINT) AS cutoff_ms,
           (doc_id % n)::INT AS n_expired,
           (n - doc_id % n)::INT AS n_retained,
           FALSE AS current_expirable
         FROM p""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"))
      val mj = Iceberg.synthMetadataJsons(d, "doc_id", "content")
      val dec = Multimodal.decodeBatches(mj, "content",
          Iceberg.metadataJsonSchema)(Iceberg.decodeMetadataJson)
      val ts = split(col("snapshot_ts_csv"), ",")
        .cast("array<bigint>")
      val cutoff = lit(1700000000000L) + col("doc_id") * 1000 +
        (col("doc_id") % col("n_snapshots")) * 7
      dec.select(col("doc_id"), col("n_snapshots"),
        cutoff.as("cutoff_ms"),
        size(filter(ts, x => x < cutoff)).as("n_expired"),
        (col("n_snapshots") -
          size(filter(ts, x => x < cutoff))).as("n_retained"),
        (element_at(ts, -1) < cutoff).as("current_expirable"))
    }),
    // ----- Avro SCHEMA RESOLUTION (round 18 — the spec's "Schema
    // Resolution" rules: schema EVOLUTION on read): old-schema
    // files consumed through today's reader — a dropped field, a
    // long→double promotion, a defaulted new field — with
    // narrowing / cross-domain promotions and missing-without-
    // default fields refusing; the resolved rows replay closed-form
    QuerySpec("q_avro_evolution",
      // resolution replay: n = doc_id%3+1 rows; c promoted
      // long→double sums exactly (integers), d defaults to 7 per row
      """WITH p AS (SELECT doc_id, doc_id % 3 + 1 AS n
           FROM documents)
         SELECT doc_id, n::INT AS n_rows,
           's' || CAST(doc_id % 10 AS VARCHAR) || '-0' AS b_first,
           CAST(n * 100 * doc_id + n * (n - 1) / 2 AS DOUBLE)
             AS c_sum,
           CAST(7 * n AS BIGINT) AS d_sum
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val av = Avro.synthEvolves(d, "doc_id", "content")
      Multimodal.decodeBatches(av, "content",
          Avro.evolveSchema)(Avro.decodeEvolve)
        .select(col("doc_id"), col("n_rows"), col("b_first"),
          col("c_sum"), col("d_sum"))
    }),
    // ----- Hudi TIMELINE census (round 18 — the third lakehouse
    // format, completing the big three): `.hoodie/` instants with
    // the state encoded in the FILE NAME (bare action = completed;
    // .inflight/.requested ignored by readers), completed commit
    // bodies' partitionToWriteStats parsed distributed and
    // censused per partition — every planted fact closed-form
    QuerySpec("q_hudi_timeline",
      // the planted timeline closed-form: completed commits
      // v in {0,1,3,4,6,7,9} (v%3==2 inflight), p0 in all seven,
      // p1 only in odd completed commits {1,3,7,9}; cleans at
      // v%4==0; the latest completed ts is commit v=9
      """SELECT 'p0' AS partition, 7 AS n_commits,
           100::BIGINT AS writes, 30000::BIGINT AS bytes,
           3 AS n_inflight, 3 AS n_cleans,
           20240101000009::BIGINT AS latest_ts
         UNION ALL
         SELECT 'p1', 4, 64::BIGINT, 20004::BIGINT, 3, 3,
           20240101000009::BIGINT""",
      (s, dir) => {
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_q_hudi"
      Hudi.writeTimeline(path)
      Hudi.timelineCensus(s, path)
        .select(col("partition"), col("n_commits"), col("writes"),
          col("bytes"), col("n_inflight"), col("n_cleans"),
          col("latest_ts"))
    }),
    // ----- Iceberg REFS + partition-spec application (round 19):
    // named branches/tags resolve to snapshot ids (main must be a
    // branch at the current snapshot; a dangling ref refuses), and
    // the default spec's partition transforms apply to the
    // manifest entries' partition tuples so the census answers
    // "which files does partition P touch at branch B" engine-side
    QuerySpec("q_iceberg_refs",
      // the refs replay closed-form: main at the head snapshot, b1
      // parked at snapshot id%n, t1 pinning the first; the default
      // spec carries id%3 bucket[16] fields; the probe bucket
      // (doc_id+1)%8 touches one manifest entry iff the table has
      // at least two
      """WITH p AS (SELECT doc_id, doc_id % 4 + 2 AS n
           FROM documents)
         SELECT doc_id, 3 AS n_refs, 2 AS n_branches, 1 AS n_tags,
           TRUE AS main_is_current,
           CAST(1000 * doc_id + doc_id % n AS BIGINT)
             AS b1_snapshot,
           CAST(1000 * doc_id AS BIGINT) AS t1_snapshot,
           CASE CAST(doc_id % 3 AS INT)
             WHEN 0 THEN ''
             WHEN 1 THEN 'bucket[16]'
             ELSE 'bucket[16],bucket[16]' END AS spec_transforms,
           CAST((doc_id + 1) % 8 AS INT) AS probe_bucket,
           CASE WHEN doc_id % 4 >= 1 THEN 1 ELSE 0 END
             AS files_at_probe
         FROM p""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"))
      val mj = Iceberg.synthMetadataJsons(d, "doc_id", "content")
      val refs = Multimodal.decodeBatches(mj, "content",
        Iceberg.refsSchema)(Iceberg.decodeRefs)
      val mf = Iceberg.synthManifests(d, "doc_id", "content")
      val bks = Multimodal.decodeBatches(mf, "content",
          Iceberg.bucketsSchema)(Iceberg.decodeManifestBuckets)
        .select(col("doc_id"), split(col("buckets_csv"), ",")
          .cast("array<bigint>").as("buckets"))
      refs.join(bks, Seq("doc_id"))
        .select(col("doc_id"), col("n_refs"), col("n_branches"),
          col("n_tags"), col("main_is_current"),
          col("b1_snapshot"), col("t1_snapshot"),
          col("spec_transforms"),
          ((col("doc_id") + 1) % 8).cast("int").as("probe_bucket"),
          size(filter(col("buckets"),
            b => b === (col("doc_id") + 1) % 8))
            .as("files_at_probe"))
    }),
    // ----- Hudi MOR FILE GROUPS + log blocks (round 19 — the
    // read depth Hudi lacked while Delta/Iceberg got theirs): per
    // file group the LATEST completed base file (a base at an
    // inflight instant is ignored; older versions counted stale),
    // its ordered HoodieLogFormat log files walked block by block
    // (magic / block length / version / type / header map /
    // content), data vs delete blocks censused and records
    // counted — with a stale log rooted at a replaced base that
    // must NOT attach
    QuerySpec("q_hudi_filegroups",
      // the planted MOR table replays closed-form: fg-a resolves to
      // base 5 (base 1 stale, base 9 inflight-ignored) with logs
      // v1+v2 = 2 data blocks (7+4 records) + 1 delete block; the
      // stale log rooted at base 1 never attaches
      """SELECT * FROM (VALUES
           ('fg-a', 'p0', CAST(5 AS BIGINT), 1, 2, 2, 1, 0,
             CAST(11 AS BIGINT)),
           ('fg-b', 'p0', CAST(3 AS BIGINT), 0, 1, 1, 0, 0,
             CAST(5 AS BIGINT)),
           ('fg-c', 'p1', CAST(5 AS BIGINT), 0, 0, 0, 0, 0,
             CAST(0 AS BIGINT)))
         AS t(file_group, partition, base_instant, n_stale_bases,
           n_logs, n_data_blocks, n_delete_blocks,
           n_corrupt_blocks, log_records)""",
      (s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}" +
        "/graft_q_hudi_mor"
      Hudi.writeMorTable(path)
      Hudi.fileGroups(s, path)
        .select(col("file_group"), col("partition"),
          col("base_instant"), col("n_stale_bases"),
          col("n_logs"), col("n_data_blocks"),
          col("n_delete_blocks"), col("n_corrupt_blocks"),
          col("log_records"))
    }),
    // ----- Iceberg INCREMENTAL scan (round 18 — the CDC read
    // pattern: "what changed since snapshot X?"): from the
    // metadata census's ordered snapshot facts, the engine slices
    // the per-snapshot added-records between the from-snapshot and
    // the current one and folds them with codegen'd array
    // functions — the planning arithmetic of an incremental
    // consumer, zero UDFs
    QuerySpec("q_iceberg_incremental",
      // incremental replay: snapshot k adds 10*doc_id+k records; the
      // consumer at from-index f = doc_id % n reads snapshots
      // f+1 .. n-1
      """WITH p AS (SELECT doc_id, doc_id % 4 + 2 AS n
           FROM documents),
         b AS (SELECT doc_id, n, doc_id % n AS f FROM p),
         inc AS (SELECT b.doc_id,
             SUM(10 * b.doc_id + t.k) AS s
           FROM b, unnest(generate_series(0, 5)) AS t(k)
           WHERE t.k > f AND t.k < n GROUP BY b.doc_id)
         SELECT b.doc_id, n::INT AS n_snapshots,
           f::INT AS from_idx,
           (n - f - 1)::INT AS n_incremental,
           CAST(COALESCE(s, 0) AS BIGINT) AS inc_added_records
         FROM b LEFT JOIN inc USING (doc_id)""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"))
      val mj = Iceberg.synthMetadataJsons(d, "doc_id", "content")
      val dec = Multimodal.decodeBatches(mj, "content",
          Iceberg.metadataJsonSchema)(Iceberg.decodeMetadataJson)
      val added = split(col("added_records_csv"), ",")
        .cast("array<bigint>")
      val n = col("n_snapshots")
      val from = col("doc_id") % n // snapshot index consumed so far
      val inc = slice(added, (from + 2).cast("int"),
        (n - from - 1).cast("int"))
      dec.select(col("doc_id"), n.as("n_snapshots"),
        from.cast("int").as("from_idx"),
        (n - from - 1).cast("int").as("n_incremental"),
        aggregate(inc, lit(0L), (acc, x) => acc + x)
          .as("inc_added_records"))
    }),
    // ----- ORC stripe/column STATISTICS census (round 17 — the
    // facts that drive stripe skipping at 100 TB): file-level
    // min/max/sum/nulls from the footer, per-stripe min/max from the
    // Metadata section, and the PRUNING DECISION ITSELF computed
    // engine-side with codegen'd array functions (zip_with + filter
    // over the stripe intervals — zero UDFs): a point probe must hit
    // exactly one of the five known 1024-row stripes and a planted
    // 1500-wide range probe a doc-dependent count, both replayed
    // closed-form by the oracle
    QuerySpec("q_orc_stats",
      // the stats walk must replay what the reference ORC writer
      // recorded for the deliberately-striped fixture (the writer
      // rounds to its 1024-row batches: stripe k =
      // [1024k, min(1024k+1023, 4999)]); the pruning counts are pure
      // interval arithmetic over those known stripes
      """WITH p AS (SELECT doc_id, doc_id % 5000 AS probe,
           doc_id % 4000 AS lo FROM documents)
         SELECT doc_id,
           5 AS n_stripes_stats,
           0::BIGINT AS file_min, 4999::BIGINT AS file_max,
           12497500::BIGINT AS file_sum, 5000::BIGINT AS file_nvals,
           FALSE AS has_null,
           's0' AS str_min, 's9' AS str_max,
           10000::BIGINT AS str_len_sum,
           CAST(probe AS BIGINT) AS probe,
           1 AS n_hit,
           CAST(LEAST(4, (lo + 1500) // 1024) - lo // 1024 + 1
             AS INT) AS n_range_hit
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val os = Orc.synthOrcStats(d, "content")
      val dec = Multimodal.decodeBatches(os, "content",
        Orc.orcStatsSchema)(Orc.decodeOrcStats)
      val mins = split(col("stripe_mins"), ",")
        .cast("array<bigint>")
      val maxs = split(col("stripe_maxs"), ",")
        .cast("array<bigint>")
      val probe = col("doc_id") % 5000
      val lo = col("doc_id") % 4000
      val hi = lo + 1500
      dec.select(col("doc_id"), col("n_stripes_stats"),
        col("file_min"), col("file_max"), col("file_sum"),
        col("file_nvals"), col("has_null"), col("str_min"),
        col("str_max"), col("str_len_sum"),
        probe.as("probe"),
        size(filter(zip_with(mins, maxs,
            (mn, mx) => mn <= probe && mx >= probe), x => x))
          .as("n_hit"),
        size(filter(zip_with(mins, maxs,
            (mn, mx) => mn <= hi && mx >= lo), x => x))
          .as("n_range_hit"))
    }),
    // ----- ORC stripe DATA decode (round 19 — the read-path
    // parity the metadata tier lacked): house code reads VALUES
    // from ORC stripes — present streams, integer RLEv2, string
    // dictionaries — across the 5-stripe stats fixture and the
    // nullable fixture; per doc a LIVE point lookup
    // (value[doc_id % n]) makes every doc prove a different slice
    // of the decode, exactly the q_parquet_read pattern
    QuerySpec("q_orc_read",
      // the stripe decode replays the planted data exactly: sorted
      // ids make value[p] = p (sum 12497500 over 5 stripes), the
      // dictionary string cycles s0..s9, and the nullable fixture's
      // planted null cadence (tag %7, dbl %11) must weave back
      // through the present streams
      """WITH p AS (SELECT doc_id, doc_id % 5000 AS p,
           doc_id % 400 AS q FROM documents)
         SELECT doc_id, 5000 AS n_values, 5 AS n_stripes,
           CAST(12497500 AS BIGINT) AS id_sum,
           CAST(p AS BIGINT) AS id_probe,
           's' || CAST(p % 10 AS VARCHAR) AS s_probe,
           TRUE AS s_dict,
           58 AS t_n_nulls,
           CASE WHEN q % 7 = 0 THEN NULL
             ELSE 't' || CAST(q % 5 AS VARCHAR) END AS t_probe,
           CASE WHEN q % 11 = 0 THEN NULL
             ELSE q * CAST(0.25 AS DOUBLE) END AS d_probe
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      OrcRead.orcReadRows(d, "doc_id")
        .select(col("doc_id"), col("n_values"), col("n_stripes"),
          col("id_sum"), col("id_probe"), col("s_probe"),
          col("s_dict"), col("t_n_nulls"), col("t_probe"),
          col("d_probe"))
    }),
    // ----- ORC row-group indexes + BLOOM streams (round 18 — the
    // intra-stripe skipping tier, parquet-bloom parity): the
    // committed Spark-written fixture's ROW_INDEX gives per-group
    // zone maps (pruning counts computed engine-side, zero UDFs)
    // and the BLOOM_FILTER_UTF8 streams are probed LIVE per doc —
    // member probes (Thomas-Wang for the long column, Murmur3
    // hash64 over UTF-8 for the string column) must hit their own
    // row group; absent probes come from verified zero-FP windows,
    // so every bloom verdict is deterministic for the oracle
    QuerySpec("q_orc_bloom",
      // the bloom fixture's constants (5 groups at stride 1000, k=7,
      // 1200-byte bitsets) are the committed writer output; member
      // probes must hit (no false negatives) and the absent windows
      // were exhaustively verified zero-FP per group, so the bloom
      // verdicts are constants; the row-index prunes are interval
      // arithmetic over the exact 1000-row groups
      """WITH p AS (SELECT doc_id, doc_id % 5000 AS probe,
           doc_id % 4000 AS lo FROM documents)
         SELECT doc_id,
           5 AS n_row_groups, 7 AS n_hash, 1200 AS bitset_bytes,
           '0,1000,2000,3000,4000' AS ri_mins,
           '999,1999,2999,3999,4999' AS ri_maxs,
           TRUE AS member_hit, TRUE AS s_member_hit,
           FALSE AS absent_hit, FALSE AS s_absent_hit,
           CAST(probe AS BIGINT) AS probe,
           1 AS ri_n_hit,
           CAST(LEAST(4, (lo + 1500) // 1000) - lo // 1000 + 1
             AS INT) AS ri_range_hit
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val dec = Orc.orcBloomRows(d, "doc_id")
      val mins = split(col("ri_mins"), ",").cast("array<bigint>")
      val maxs = split(col("ri_maxs"), ",").cast("array<bigint>")
      val probe = col("doc_id") % 5000
      val lo = col("doc_id") % 4000
      val hi = lo + 1500
      dec.select(col("doc_id"), col("n_row_groups"),
        col("n_hash"), col("bitset_bytes"),
        col("ri_mins"), col("ri_maxs"),
        col("member_hit"), col("s_member_hit"),
        col("absent_hit"), col("s_absent_hit"),
        probe.as("probe"),
        size(filter(zip_with(mins, maxs,
            (mn, mx) => mn <= probe && mx >= probe), x => x))
          .as("ri_n_hit"),
        size(filter(zip_with(mins, maxs,
            (mn, mx) => mn <= hi && mx >= lo), x => x))
          .as("ri_range_hit"))
    }),
    // ----- parquet PAGE-level column indexes (round 18 — the
    // intra-row-group skipping tier, PARQUET-1201; ORC row-group
    // parity): per-page [min,max] from the ColumnIndex and
    // first_row_index from the OffsetIndex of the committed
    // parquet-mr fixture, with the page-prune decision computed
    // engine-side over the decoded bounds — the step a reader
    // takes before decompressing ANY page
    QuerySpec("q_parquet_pages",
      // the page-index fixture's constants are the committed
      // parquet-mr writer output (5 exact 1000-row pages, ascending
      // bounds); the prune counts are interval arithmetic over the
      // known pages
      """WITH p AS (SELECT doc_id, doc_id % 5000 AS probe,
           doc_id % 4000 AS lo FROM documents)
         SELECT doc_id, 5 AS n_pages, 1 AS boundary_order,
           0 AS n_null_pages,
           '0,1000,2000,3000,4000' AS page_mins,
           '999,1999,2999,3999,4999' AS page_maxs,
           '0,1000,2000,3000,4000' AS first_rows,
           'v0' AS s_first_min, 'v4999' AS s_last_max,
           CAST(probe AS BIGINT) AS probe,
           1 AS pg_n_hit,
           CAST(LEAST(4, (lo + 1500) // 1000) - lo // 1000 + 1
             AS INT) AS pg_range_hit
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val dec = ParquetMeta.pageIndexRows(d, "doc_id")
      val mins = split(col("page_mins"), ",").cast("array<bigint>")
      val maxs = split(col("page_maxs"), ",").cast("array<bigint>")
      val probe = col("doc_id") % 5000
      val lo = col("doc_id") % 4000
      val hi = lo + 1500
      dec.select(col("doc_id"), col("n_pages"),
        col("boundary_order"), col("n_null_pages"),
        col("page_mins"), col("page_maxs"), col("first_rows"),
        col("s_first_min"), col("s_last_max"),
        probe.as("probe"),
        size(filter(zip_with(mins, maxs,
            (mn, mx) => mn <= probe && mx >= probe), x => x))
          .as("pg_n_hit"),
        size(filter(zip_with(mins, maxs,
            (mn, mx) => mn <= hi && mx >= lo), x => x))
          .as("pg_range_hit"))
    }),
    // ----- parquet DATA-PAGE decode (round 18 — actually reading
    // VALUES with house code end-to-end: page headers, all five
    // fixture codecs, the PLAIN and RLE_DICTIONARY encodings): the
    // committed page fixture's id column decodes fully (cross-
    // verified against its own footer statistics) and the
    // low-cardinality grp column exercises the dictionary +
    // RLE/bit-packed hybrid path; per doc a LIVE point lookup —
    // value[doc_id % n] — makes every doc prove a different slice
    // of the decode
    QuerySpec("q_parquet_read",
      // the decode replays the planted data exactly: sorted ids make
      // value[k] = k, and the dictionary column is i % 7 over 300
      // rows (sum 897, 7 dictionary entries)
      """SELECT doc_id, 5000 AS n_values, 5 AS n_data_pages,
           0 AS n_dict_entries, 12497500::BIGINT AS values_sum,
           0::BIGINT AS v_min, 4999::BIGINT AS v_max,
           TRUE AS sum_matches_stats,
           CAST(doc_id % 5000 AS BIGINT) AS probe_value,
           7 AS g_n_dict, 897::BIGINT AS g_sum,
           CAST((doc_id % 300) % 7 AS BIGINT) AS g_probe_value,
           'v' || CAST(doc_id % 5000 AS VARCHAR) AS s_probe_value,
           58 AS t_n_nulls, 5 AS t_n_dict,
           CASE WHEN (doc_id % 400) % 7 = 0 THEN NULL
             ELSE 't' || CAST((doc_id % 400) % 5 AS VARCHAR)
             END AS t_probe_value
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      ParquetMeta.pageReadRows(d, "doc_id")
        .select(col("doc_id"), col("n_values"),
          col("n_data_pages"), col("n_dict_entries"),
          col("values_sum"), col("v_min"), col("v_max"),
          col("sum_matches_stats"), col("probe_value"),
          col("g_n_dict"), col("g_sum"), col("g_probe_value"),
          col("s_probe_value"), col("t_n_nulls"),
          col("t_n_dict"), col("t_probe_value"))
    }),
    // ----- END-TO-END Iceberg table READ (round 19 — the
    // composition of every lakehouse tier): metadata.json →
    // current snapshot → manifest list → manifest entries → typed
    // parquet data-page decode → sequence-gated position-delete
    // anti join → row values, on a planted multi-file table. The
    // planted seams: a stale snapshot whose manifest list must NOT
    // be read, and a position delete at sequence 3 carrying rows
    // against a sequence-4 data file that the gate must drop
    QuerySpec("q_iceberg_scan",
      // the end-to-end Iceberg read replays closed-form: file k
      // holds ids 1000k+j (j<200, val=3*id); pd0 (seq 3) deletes
      // j%10==0 from k<=4 but only k<=3 pass the sequence gate
      // (f4 has data seq 4); pd1 (seq 6) deletes j%9==0 from
      // k in {0,4,5}
      """WITH r AS (SELECT k.k, j.j FROM
             unnest(generate_series(0, 5)) AS k(k),
             unnest(generate_series(0, 199)) AS j(j)),
         live AS (SELECT k, j FROM r WHERE NOT (
           (k <= 3 AND j % 10 = 0) OR
           (k IN (0, 4, 5) AND j % 9 = 0)))
         SELECT CAST(k AS INT) AS file_k,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(3 * (1000 * k + j)) AS BIGINT) AS sum_val
         FROM live GROUP BY k""",
      (s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}" +
        "/graft_q_ice_scan"
      TableScan.plantIcebergTable(s, path)
      TableScan.icebergScan(s, path)
    }),
    // ----- END-TO-END Delta table READ (round 19 — the DV twin):
    // _last_checkpoint → checkpoint parquet → JSON tail
    // (last-action-wins with the deletionVector descriptor) →
    // typed parquet decode → DV bitmap probe INSIDE the scan task
    // (no join — the reason deletion vectors win at 100 TB) →
    // row values
    QuerySpec("q_delta_scan",
      // the end-to-end Delta read replays closed-form: live files
      // k in {0,2,3} hold ids 1000k+j (j<250, val=2*id+1); part-0's
      // DV deletes j%10==0, part-2's deletes j%7==0, part-1 was
      // removed at v2 (before the checkpoint)
      """WITH r AS (SELECT k.k, j.j FROM
             (VALUES (0), (2), (3)) AS k(k),
             unnest(generate_series(0, 249)) AS j(j)),
         live AS (SELECT k, j FROM r WHERE NOT (
           (k = 0 AND j % 10 = 0) OR (k = 2 AND j % 7 = 0)))
         SELECT CAST(k AS INT) AS file_k,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(2 * (1000 * k + j) + 1) AS BIGINT) AS sum_val
         FROM live GROUP BY k""",
      (s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}" +
        "/graft_q_delta_scan"
      TableScan.plantDeltaTable(s, path)
      TableScan.deltaScan(s, path)
    }),
    // ----- Delta COLUMN MAPPING (round 19): a column-mapped
    // table's parquet files carry PHYSICAL names; the logical
    // schema lives only in metaData.schemaString's
    // delta.columnMapping annotations. The scan resolves
    // logical→physical before decoding, and the planted mapped
    // table must census identically to its unmapped twin — a
    // reader that ignores the mapping reads wrong columns
    QuerySpec("q_delta_colmap",
      // the column-mapped read replays closed-form: 3 files of 150
      // rows, id = 1000k+j, val = 5*id+2 — and the mapped census
      // must equal the unmapped twin's exactly
      """WITH r AS (SELECT k.k, j.j FROM
             unnest(generate_series(0, 2)) AS k(k),
             unnest(generate_series(0, 149)) AS j(j))
         SELECT CAST(k AS INT) AS file_k,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(5 * (1000 * k + j) + 2) AS BIGINT) AS sum_val,
           CAST(COUNT(*) AS BIGINT) AS twin_n_live,
           CAST(SUM(5 * (1000 * k + j) + 2) AS BIGINT)
             AS twin_sum_val,
           TRUE AS mapped_matches_twin
         FROM r GROUP BY k""",
      (s, dir) => {
      val mapped = s"${System.getProperty("java.io.tmpdir")}" +
        "/graft_q_delta_colmap"
      val twin = s"${System.getProperty("java.io.tmpdir")}" +
        "/graft_q_delta_colmap_twin"
      TableScan.plantDeltaMappedTable(s, mapped, "name")
      TableScan.plantDeltaMappedTable(s, twin, "plain")
      val m = TableScan.deltaScan(s, mapped)
      val t = TableScan.deltaScan(s, twin)
        .withColumnRenamed("n_live", "twin_n_live")
        .withColumnRenamed("sum_val", "twin_sum_val")
      m.join(t, Seq("file_k"))
        .select(col("file_k"), col("n_live"), col("sum_val"),
          col("twin_n_live"), col("twin_sum_val"),
          (col("n_live") === col("twin_n_live") &&
            col("sum_val") === col("twin_sum_val"))
            .as("mapped_matches_twin"))
    }),
    // ----- parquet TYPED data-page decode (round 19 — the FULL
    // physical-type matrix: bool/int32/int64/float/double/
    // byte_array/FLBA-decimal/date/timestamp, v1 AND v2 pages,
    // PLAIN + dictionary + RLE booleans + the three delta
    // encodings, def levels driven by the footer schema's declared
    // repetition): the same planted 3000-row table is read back
    // through three wire paths (v1+dict+snappy, v2+delta+zstd,
    // v1+PLAIN) and every per-doc probe must replay closed-form —
    // the gate on the end-to-end lakehouse table read
    QuerySpec("q_parquet_typed",
      // the typed matrix replays closed-form: every probe value is a
      // pure function of p = doc_id % 3000 (the planted 3000-row
      // table), identical through all three wire paths; decimals
      // render at their declared scale, dates as epoch days
      // (2020-01-01 = 18262), timestamps as epoch micros
      """WITH q AS (SELECT doc_id, doc_id % 3000 AS p
           FROM documents)
         SELECT doc_id,
           CAST(p % 1000 AS INT) AS a_i32,
           CASE WHEN p % 7 = 0 THEN NULL
             ELSE CAST(p % 1000 - 500 AS INT) END AS a_i32n,
           p * CAST(0.25 AS DOUBLE) AS a_d,
           (p % 64) * CAST(0.5 AS DOUBLE) AS a_f,
           p % 3 = 0 AS a_bl,
           CASE WHEN p % 13 = 0 THEN NULL
             ELSE 't' || CAST(p % 17 AS VARCHAR) END AS a_sn,
           CAST(CAST(p AS DECIMAL(9,2)) AS VARCHAR) AS a_dec9,
           CAST(18262 + p % 700 AS INT) AS a_dt_days,
           CAST(1600000000000000 + p * 1000 AS BIGINT)
             AS a_ts_micros,
           CAST(p % 1000 AS INT) AS b_i32,
           'x' || CAST(p AS VARCHAR) AS b_s,
           CAST(CAST(p AS DECIMAL(25,4)) AS VARCHAR) AS b_dec25,
           CASE WHEN p % 5 = 0 THEN NULL
             ELSE p % 2 = 1 END AS b_bln,
           CASE WHEN p % 11 = 0 THEN NULL
             ELSE (p % 32) * CAST(0.25 AS DOUBLE) END AS b_fn,
           CAST(p % 1000 AS INT) AS c_i32,
           p * CAST(0.25 AS DOUBLE) AS c_d,
           'x' || CAST(p AS VARCHAR) AS c_s,
           CAST(CAST(p AS DECIMAL(18,3)) AS VARCHAR) AS c_dec18,
           429 AS n_nulls_i32n,
           CAST(1498500 AS BIGINT) AS sum_i32,
           TRUE AS all3_agree
         FROM q""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      ParquetTyped.typedReadRows(d, "doc_id")
    }),
    // ----- parquet FOOTER triage from raw bytes (thrift compact
    // protocol from the public parquet-format spec): the committed
    // fixtures are written by Spark's own parquet-mr — the
    // reference implementation — across five codecs, a nested
    // schema and a 151-row-group file; the walk must replay what
    // the reference writer planted, footer-only, never page data
    QuerySpec("q_parquet_meta",
      // the footer walk must replay the reference writer's metadata
      """SELECT doc_id, 1 AS pq_version,
           CASE doc_id % 5 WHEN 0 THEN 100 WHEN 1 THEN 250
             WHEN 2 THEN 50 WHEN 3 THEN 20000 ELSE 300 END
             ::BIGINT AS num_rows,
           CASE doc_id % 5 WHEN 3 THEN 151 ELSE 1 END::INT
             AS n_row_groups,
           CASE doc_id % 5 WHEN 0 THEN 2 WHEN 1 THEN 3
             WHEN 2 THEN 4 WHEN 3 THEN 2 ELSE 2 END::INT
             AS n_leaf_columns,
           CASE doc_id % 5 WHEN 0 THEN 'id,name'
             WHEN 1 THEN 'id,v,s' WHEN 2 THEN 'id,_1,_2,element'
             WHEN 3 THEN 'id,txt' ELSE 'id,grp' END AS leaf_names,
           CASE doc_id % 5 WHEN 0 THEN 'uncompressed'
             WHEN 1 THEN 'snappy' WHEN 2 THEN 'gzip'
             WHEN 3 THEN 'zstd' ELSE 'lz4' END AS codecs
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ps = ParquetMeta.synthParquets(d, "doc_id", "content")
      Multimodal.decodeBatches(ps, "content",
          ParquetMeta.pqSchema)(ParquetMeta.decodePq)
        .select(col("doc_id"), col("pq_version"), col("num_rows"),
          col("n_row_groups"), col("n_leaf_columns"),
          col("leaf_names"), col("codecs"))
    }),
    // ----- Avro object-container files from the public spec: the
    // metadata map, zigzag varints, null + deflate codecs rotating
    // on doc_id%2, the nullable-union idiom, per-block sync checks
    QuerySpec("q_avro_rows",
      // halves + note string; long_sum replays (2d+1)+(2d+2)+(2d+3)
      """SELECT doc_id,
         COALESCE(text, '') || 'note ' ||
           CAST(doc_id % 4 AS VARCHAR) AS text,
         3 AS n_records, 2 AS n_blocks,
         CAST(6 * doc_id + 6 AS BIGINT) AS long_sum,
         2 AS n_null_notes
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val av = Avro.synthAvro(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(av, "content",
          Avro.avroSchema)(Avro.decodeAvro)
        .select(col("doc_id"), col("avro_text").as("text"),
          col("n_records"), col("n_blocks"), col("long_sum"),
          col("n_null_notes"))
    }),
    // ----- Avro COMPLEX schemas (closes the C184 refusal): nested
    // record, array split across item blocks (the NEGATIVE
    // count+byte-size form on odd ids), map, enum, fixed(8), a
    // 3-branch union — with the codec cycling null/deflate/SNAPPY
    // (from-spec decoder + the Avro big-endian CRC32 trailer)
    QuerySpec("q_avro_complex",
      // every planted complex value replayed: nested meta sums, the
      // array arithmetic series, the map value sum, enum/union cases,
      // and the mod-251 fixed-byte sum
      """WITH p AS (SELECT doc_id, doc_id % 4 + 1 AS len
           FROM documents)
         SELECT doc_id,
           2 AS n_records,
           CAST(6 * doc_id + 3 AS BIGINT) AS meta_a_sum,
           'm' || CAST(doc_id % 100 AS VARCHAR) AS meta_b,
           CAST(2 * (len * doc_id + len * (len - 1) / 2) AS BIGINT)
             AS vals_sum,
           CAST(2 * len AS INT) AS n_vals,
           CAST(6 * doc_id AS BIGINT) AS tags_sum,
           CASE doc_id % 3 WHEN 0 THEN 'ALPHA' WHEN 1 THEN 'BETA'
             ELSE 'GAMMA' END AS kind,
           CAST((SELECT SUM((doc_id + t.i) % 251)
             FROM unnest(generate_series(0, 7)) AS t(i)) AS BIGINT)
             AS fp_sum,
           CASE doc_id % 3 WHEN 0 THEN NULL
             WHEN 1 THEN 'l:' || CAST(doc_id * 7 AS VARCHAR)
             ELSE 's:u' || CAST(doc_id % 10 AS VARCHAR) END AS u_repr
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val av = Avro.synthAvroComplex(d, "doc_id", "content")
      Multimodal.decodeBatches(av, "content",
          Avro.avroComplexSchema)(Avro.decodeAvroComplex)
        .select(col("doc_id"), col("n_records"), col("meta_a_sum"),
          col("meta_b"), col("vals_sum"), col("n_vals"),
          col("tags_sum"), col("kind"), col("fp_sum"),
          col("u_repr"))
    }),
    // ----- Avro NAMED-TYPE references (round 17): the `pt` record
    // defined once and reused by two more fields plus the array
    // items (one reference namespace-qualified), enum and fixed
    // reuse — over the FULL six-codec matrix (null/deflate/snappy/
    // zstandard/BZIP2/XZ, the last two through the in-repo coders
    // both directions); the codec string is an output column so
    // every codec's decode is oracle-proven
    QuerySpec("q_avro_named",
      // named-type reuse + the six-codec matrix: every planted value
      // replayed closed-form; the codec column pins the rotation so a
      // bzip2/xz refusal (all-null row) breaks the hash
      """WITH p AS (SELECT doc_id, doc_id % 3 + 1 AS len
           FROM documents)
         SELECT doc_id,
           CASE doc_id % 6 WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
             WHEN 2 THEN 'snappy' WHEN 3 THEN 'zstandard'
             WHEN 4 THEN 'bzip2' ELSE 'xz' END AS codec,
           2 AS n_records,
           CAST(8 * doc_id + 2 AS BIGINT) AS px_sum,
           CAST(4 * doc_id + 2 * (doc_id % 7) + 2 AS BIGINT)
             AS py_sum,
           (CASE doc_id % 3 WHEN 0 THEN 'R' WHEN 1 THEN 'G'
              ELSE 'B' END) || '/' ||
           (CASE (doc_id + 1) % 3 WHEN 0 THEN 'R' WHEN 1 THEN 'G'
              ELSE 'B' END) AS c_pair,
           CAST((SELECT SUM(2 * ((doc_id + t.i) % 199) +
               ((2 * doc_id + t.i) % 211) +
               ((2 * doc_id + t.i + 1) % 211))
             FROM unnest(generate_series(0, 3)) AS t(i)) AS BIGINT)
             AS h_sum,
           CAST(2 * len AS INT) AS pts_n,
           CAST(2 * (len * doc_id + len * (len - 1) / 2) AS BIGINT)
             AS pts_x_sum,
           CAST(2 * (len * doc_id - len * (len - 1) / 2) AS BIGINT)
             AS pts_y_sum
         FROM p""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"))
      val av = Avro.synthAvroNamed(d, "doc_id", "content")
      Multimodal.decodeBatches(av, "content",
          Avro.avroNamedSchema)(Avro.decodeAvroNamed)
        .select(col("doc_id"), col("codec"), col("n_records"),
          col("px_sum"), col("py_sum"), col("c_pair"),
          col("h_sum"), col("pts_n"), col("pts_x_sum"),
          col("pts_y_sum"))
    }),
    // ----- Avro LOGICAL types (round 17): the spec's annotations
    // interpreted, not just carried — decimal(10,2) from two's-
    // complement bytes with the scale read from the annotation,
    // date/timestamp-micros/time-millis as ISO strings, uuid
    // validity, the duration fixed(12) triple — plus the schema's
    // logical-type inventory; every value closed-form
    QuerySpec("q_avro_logical",
      // every logical value replayed closed-form: manual decimal
      // string composition, DuckDB's own date/timestamp rendering
      // (verified char-equal to java.time's ISO forms)
      """WITH p AS (SELECT doc_id,
           12345 + doc_id AS a,
           (doc_id * 37) % 86400000 AS v FROM documents)
         SELECT doc_id,
           'date,decimal(10,2),duration,time-millis,' ||
             'timestamp-micros,uuid' AS logical_csv,
           (CASE WHEN doc_id % 2 = 0 THEN '' ELSE '-' END) ||
             CAST(a // 100 AS VARCHAR) || '.' ||
             lpad(CAST(a % 100 AS VARCHAR), 2, '0') AS dec_str,
           CAST(DATE '1970-01-01' +
             CAST(19000 + doc_id % 1000 AS INT) AS VARCHAR)
             AS date_iso,
           strftime(make_timestamp(1700000000000000 +
             doc_id * 1000003), '%Y-%m-%dT%H:%M:%S.%f') || 'Z'
             AS ts_iso,
           lpad(CAST(v // 3600000 AS VARCHAR), 2, '0') || ':' ||
             lpad(CAST(v // 60000 % 60 AS VARCHAR), 2, '0') || ':' ||
             lpad(CAST(v // 1000 % 60 AS VARCHAR), 2, '0') || '.' ||
             lpad(CAST(v % 1000 AS VARCHAR), 3, '0') AS time_str,
           '00000000-0000-4000-8000-' || printf('%012x',
             doc_id % 281474976710656) AS uuid_str,
           TRUE AS uuid_ok,
           CAST(doc_id % 12 AS VARCHAR) || ':' ||
             CAST(doc_id % 30 AS VARCHAR) || ':' ||
             CAST(doc_id % 1000 AS VARCHAR) AS dur_str
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val av = Avro.synthAvroLogical(d, "doc_id", "content")
      Multimodal.decodeBatches(av, "content",
          Avro.avroLogicalSchema)(Avro.decodeAvroLogical)
        .select(col("doc_id"), col("logical_csv"), col("dec_str"),
          col("date_iso"), col("ts_iso"), col("time_str"),
          col("uuid_str"), col("uuid_ok"), col("dur_str"))
    })
  )
}
