package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.core.CacheHandle
import graft.operators.{AudioSets, MergeUpsert}
import org.apache.spark.sql.functions._

/** The load/upsert pipeline (SURVEY.md §2.3 J6–J9 + A10): per-column
  * merge strategies, required-field filtering, key dedup, url-conflict
  * handling — the semantic heart of the reference's loader
  * (catalog/dags/common/loader/sql.py:193-332).
  *
  * Staged batches are synthesized deterministically from the testdata
  * tables (mod-arithmetic mutations) so the DuckDB oracle reproduces them
  * exactly.
  */
object LoadQueries extends QueryPack {

  /** J6 — the upsert merge with newest_non_null per-column strategy,
    * rewritten as ONE full-outer shuffle join on the logical key (what
    * Delta MERGE executes); staged rows update matching targets, new keys
    * insert, unmatched targets persist.
    */
  val q13 = Q("q13_merge_upsert",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
      val target = o.filter(col("o_orderkey") % 3 =!= 0)
      val staged = o.filter(col("o_orderkey") % 2 === 0).select(
        col("o_orderkey"),
        col("o_custkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") * lit(1.1)).as("o_totalprice"),
        col("o_orderdate"),
        when(col("o_orderkey") % 5 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
      MergeUpsert.merge(target, staged, Seq("o_orderkey"))
    },
    Some("""
      WITH target AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
      staged AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice, o_orderdate,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END AS o_orderpriority
             FROM orders WHERE o_orderkey % 2 = 0)
      SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
             COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
             COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
             COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
             COALESCE(s.o_orderdate, t.o_orderdate) AS o_orderdate,
             COALESCE(s.o_orderpriority, t.o_orderpriority) AS o_orderpriority
      FROM target t FULL JOIN staged s ON t.o_orderkey = s.o_orderkey"""))

  /** J6 array strategy — merge_array/merge_jsonb_arrays: distinct union
    * with null fallbacks (columns.py:55-74). Arrays are sorted on both
    * sides (DuckDB list_distinct does not preserve order).
    */
  val q14 = Q("q14_merge_arrays",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val words = array_sort(array_distinct(split(col("text"), " ")))
      val target = d.select(col("doc_id"), slice(words, 1, 5).as("tags"))
      val staged = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), slice(words, 4, 5).as("tags"))
      MergeUpsert.merge(target, staged, Seq("doc_id"),
        Map("tags" -> ((n, o) =>
          array_sort(MergeUpsert.Strategy.mergeArray(n, o)))))
        // serialize the array for the oracle comparator (pandas cannot
        // hash raw arrays); the merge itself still produces array<string>
        .select(col("doc_id"), array_join(col("tags"), ",").as("tags"))
    },
    Some("""
      WITH w AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ws FROM documents),
      target AS (SELECT doc_id, ws[1:5] AS tags FROM w),
      staged AS (SELECT doc_id, ws[4:8] AS tags FROM w WHERE doc_id % 2 = 0)
      SELECT doc_id, array_to_string(tags, ',') AS tags FROM (
        SELECT COALESCE(t.doc_id, s.doc_id) AS doc_id,
               CASE WHEN s.doc_id IS NULL THEN t.tags
                    WHEN t.doc_id IS NULL THEN s.tags
                    ELSE list_sort(COALESCE(list_distinct(list_concat(t.tags, s.tags)), s.tags, t.tags))
               END AS tags
        FROM target t FULL JOIN staged s ON t.doc_id = s.doc_id)"""))

  /** P1/J8/J9/A10 — the staged-load cleaning funnel with its metrics:
    * required-field drops per column, logical-key dedup, url dedup, and
    * the surviving row count, as ONE single-row result
    * (loader/sql.py:214-237 + loader/loader.py:57-67).
    */
  val q15 = Q("q15_load_metrics",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val staged = d.select(
        col("doc_id"),
        col("source").as("provider"),
        when(col("doc_id") % 53 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("doc"), (col("doc_id") % 100).cast("string")))
          .as("fid"),
        when(col("doc_id") % 47 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("https://ex.com/"),
            (col("doc_id") % 150).cast("string"))).as("url"))
      val required = staged.filter(
        col("fid").isNotNull && col("url").isNotNull)
      val fidDeduped = MergeUpsert.dedupeByKey(required,
        Seq(col("provider"), md5(col("fid"))), col("doc_id"))
      val urlDeduped = MergeUpsert.dedupeByKey(fidDeduped,
        Seq(col("url")), col("doc_id"))
      val total = staged.agg(count(lit(1)).as("n_staged"),
        sum(when(col("fid").isNull, 1L).otherwise(0L)).as("missing_fid"),
        sum(when(col("url").isNull, 1L).otherwise(0L)).as("missing_url"))
      val nReq = required.agg(count(lit(1)).as("n_required"))
      val nFid = fidDeduped.agg(count(lit(1)).as("n_after_fid_dedup"))
      val nUrl = urlDeduped.agg(count(lit(1)).as("n_final"))
      total.crossJoin(nReq).crossJoin(nFid).crossJoin(nUrl)
    },
    Some("""
      WITH staged AS (
        SELECT doc_id, source AS provider,
          CASE WHEN doc_id % 53 = 0 THEN NULL ELSE 'doc' || (doc_id % 100) END AS fid,
          CASE WHEN doc_id % 47 = 0 THEN NULL ELSE 'https://ex.com/' || (doc_id % 150) END AS url
        FROM documents),
      required AS (SELECT * FROM staged WHERE fid IS NOT NULL AND url IS NOT NULL),
      fidded AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY provider, md5(fid) ORDER BY doc_id) AS rn FROM required) WHERE rn = 1),
      urled AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY url ORDER BY doc_id) AS rn2 FROM fidded) WHERE rn2 = 1)
      SELECT (SELECT COUNT(*) FROM staged) AS n_staged,
             (SELECT COUNT(*) FROM staged WHERE fid IS NULL) AS missing_fid,
             (SELECT COUNT(*) FROM staged WHERE url IS NULL) AS missing_url,
             (SELECT COUNT(*) FROM required) AS n_required,
             (SELECT COUNT(*) FROM fidded) AS n_after_fid_dedup,
             (SELECT COUNT(*) FROM urled) AS n_final"""))

  /** J7 — url-conflict anti-join with the reference's exact condition
    * (loader/sql.py:322-326): a staged row is dropped only when its url
    * exists in the target under a DIFFERENT `md5(foreign_identifier)`.
    * The staged batch deliberately contains re-pulls of target rows
    * (same fid, same url) which must SURVIVE — the semantic a url-only
    * anti-join gets wrong.
    */
  val q16 = Q("q16_url_conflict",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val target = d.filter(col("doc_id") % 10 === 0).select(
        concat(lit("k"), col("doc_id").cast("string")).as("fid"),
        concat(lit("https://ex.com/"), (col("doc_id") % 149).cast("string"))
          .as("url"))
      // %10==0 rows are re-pulls (same key+url as target); %10==1 rows
      // are new keys whose urls may collide with target urls.
      val staged = d.filter(col("doc_id") % 10 <= 1).select(
        col("doc_id"),
        concat(lit("k"), col("doc_id").cast("string")).as("fid"),
        concat(lit("https://ex.com/"), (col("doc_id") % 149).cast("string"))
          .as("url"))
      MergeUpsert.urlConflictFilter(staged, target, "url", "fid")
        .select("doc_id", "fid", "url")
    },
    Some("""
      WITH target AS (SELECT 'k' || doc_id AS fid,
               'https://ex.com/' || (doc_id % 149) AS url
             FROM documents WHERE doc_id % 10 = 0),
      staged AS (SELECT doc_id, 'k' || doc_id AS fid,
               'https://ex.com/' || (doc_id % 149) AS url
             FROM documents WHERE doc_id % 10 <= 1)
      SELECT doc_id, fid, url FROM staged s
      WHERE NOT EXISTS (SELECT 1 FROM target t
                        WHERE t.url = s.url AND md5(t.fid) <> md5(s.fid))"""))

  /** J7 with the 100 TB plan: identical semantics (and oracle) to q16,
    * but the target side is pruned by a broadcast Bloom filter of the
    * staged urls before the anti-join shuffle — the exact-result
    * join-pruning pattern for a catalog-scale target. Hash-matching
    * q16's oracle proves the pruned plan changes nothing. The result is
    * checkpointed so the staged batch's checkpoint can be released
    * before the query returns.
    */
  val q65 = Q("q65_bloom_url_conflict",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val target = d.filter(col("doc_id") % 10 === 0).select(
        concat(lit("k"), col("doc_id").cast("string")).as("fid"),
        concat(lit("https://ex.com/"), (col("doc_id") % 149).cast("string"))
          .as("url"))
      val staged = d.filter(col("doc_id") % 10 <= 1).select(
        col("doc_id"),
        concat(lit("k"), col("doc_id").cast("string")).as("fid"),
        concat(lit("https://ex.com/"), (col("doc_id") % 149).cast("string"))
          .as("url"))
      val caches = CacheHandle()
      val out = MergeUpsert.urlConflictFilterBloom(staged, target, "url",
          "fid", expectedItems = 100000L, fpp = 0.01, caches = caches)
        .select("doc_id", "fid", "url")
        .localCheckpoint(true)
      caches.release()
      out
    },
    Some("""
      WITH target AS (SELECT 'k' || doc_id AS fid,
               'https://ex.com/' || (doc_id % 149) AS url
             FROM documents WHERE doc_id % 10 = 0),
      staged AS (SELECT doc_id, 'k' || doc_id AS fid,
               'https://ex.com/' || (doc_id % 149) AS url
             FROM documents WHERE doc_id % 10 <= 1)
      SELECT doc_id, fid, url FROM staged s
      WHERE NOT EXISTS (SELECT 1 FROM target t
                        WHERE t.url = s.url AND md5(t.fid) <> md5(s.fid))"""))

  /** W2 audio — the audioset_view (popularity/sql.py:329-359): audio
    * rows synthesized with JSON audio_set subrecords at the TSV
    * boundary, parsed typed (P8), duration overflow-guarded (P14,
    * audio.py:194-197), then deduped newest-per-(set fid, provider)
    * exactly like the reference's DISTINCT ON ... ORDER BY updated_on
    * DESC (made deterministic on ties by track id).
    */
  val q49 = Q("q49_audioset_view",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val setId = col("doc_id") % 7
      val setJson = when(col("doc_id") % 5 === 4,
          lit(null).cast("string"))
        .otherwise(concat(
          lit("{\"foreign_identifier\":\"set-"), setId,
          lit("\",\"title\":\"Set "), setId,
          lit("\",\"foreign_landing_url\":\"https://sets/"), setId,
          lit("\",\"creator\":\"c"), col("doc_id") % 3,
          lit("\",\"thumbnail\":\"https://t/"), setId, lit("\"}")))
      val audio = d.select(
        col("doc_id").cast("string").as("foreign_identifier"),
        col("source").as("provider"),
        ((col("doc_id") * 37) % 1000).as("updated_on"),
        setJson.as("audio_set"),
        when(col("doc_id") % 11 === 0, lit(3000000000L))
          .otherwise(col("doc_id") * 9973).as("duration"),
        lit(null).cast("string").as("tags"),
        lit(null).cast("string").as("alt_files"),
        lit(null).cast("string").as("genres"))
      AudioSets.audioSetView(AudioSets.typedAudio(audio),
        extraCols = Seq("duration"))
    },
    Some("""
      WITH a AS (SELECT doc_id,
          CAST(doc_id AS VARCHAR) AS foreign_identifier,
          source AS provider,
          (doc_id * 37) % 1000 AS updated_on,
          CASE WHEN doc_id % 5 = 4 THEN NULL ELSE
            '{"foreign_identifier":"set-' || (doc_id % 7) ||
            '","title":"Set ' || (doc_id % 7) ||
            '","foreign_landing_url":"https://sets/' || (doc_id % 7) ||
            '","creator":"c' || (doc_id % 3) ||
            '","thumbnail":"https://t/' || (doc_id % 7) || '"}'
          END AS audio_set,
          CASE WHEN doc_id % 11 = 0 THEN 3000000000
               ELSE doc_id * 9973 END AS duration
        FROM documents),
      g AS (SELECT *,
          CASE WHEN duration >= 2147483647 THEN NULL
               ELSE duration END AS dur_guarded
        FROM a WHERE audio_set IS NOT NULL),
      r AS (SELECT
          json_extract_string(audio_set, '$.foreign_identifier') AS sfid,
          json_extract_string(audio_set, '$.title') AS title,
          json_extract_string(audio_set, '$.foreign_landing_url') AS flu,
          json_extract_string(audio_set, '$.creator') AS creator,
          json_extract_string(audio_set, '$.creator_url') AS creator_url,
          json_extract_string(audio_set, '$.thumbnail') AS thumbnail,
          provider, dur_guarded,
          row_number() OVER (
            PARTITION BY json_extract_string(audio_set, '$.foreign_identifier'),
                         provider
            ORDER BY updated_on DESC, foreign_identifier ASC) AS rn
        FROM g)
      SELECT sfid AS foreign_identifier, title, flu AS foreign_landing_url,
             creator, creator_url, thumbnail, provider,
             dur_guarded AS duration
      FROM r WHERE rn = 1"""))

  /** Audio alt_files fan-out: each audio row's alternate encodings
    * (storage/audio.py:130-133 AltFile shape) parse typed from the TSV
    * JSON boundary and explode one-row-per-encoding, then roll up per
    * container format — the downstream shape the API's file-picker
    * queries need.
    */
  val q51 = Q("q51_alt_files",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val alt = when(col("doc_id") % 3 === 2, lit(null).cast("string"))
        .otherwise(concat(
          lit("[{\"url\":\"https://f/"), col("doc_id"),
          lit(".mp3\",\"filesize\":"), col("doc_id") % 1000,
          lit(",\"bit_rate\":128000,\"sample_rate\":44100},"),
          lit("{\"url\":\"https://f/"), col("doc_id"),
          lit(".ogg\",\"filesize\":"), (col("doc_id") * 7) % 997,
          lit(",\"bit_rate\":96000,\"sample_rate\":48000}]")))
      val typed = d.select(col("doc_id"),
        from_json(alt, graft.core.Records.altFilesType).as("alt"))
      typed
        .select(col("doc_id"), explode(col("alt")).as("f"))
        .select(col("doc_id"),
          regexp_extract(col("f.url"), "\\.([a-z0-9]+)$", 1).as("fmt"),
          col("f.filesize"), col("f.bit_rate"), col("f.sample_rate"))
        .groupBy("fmt")
        .agg(count(lit(1)).as("n"),
          sum(col("filesize")).cast("long").as("total_size"),
          max(col("bit_rate")).cast("long").as("max_bitrate"),
          countDistinct(col("sample_rate")).as("n_rates"))
    },
    Some("""
      WITH base AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 2),
      ex AS (
        SELECT doc_id, 'mp3' AS fmt, doc_id % 1000 AS filesize,
               128000 AS bit_rate, 44100 AS sample_rate FROM base
        UNION ALL
        SELECT doc_id, 'ogg' AS fmt, (doc_id * 7) % 997 AS filesize,
               96000 AS bit_rate, 48000 AS sample_rate FROM base)
      SELECT fmt, COUNT(*) AS n,
             CAST(SUM(filesize) AS BIGINT) AS total_size,
             CAST(MAX(bit_rate) AS BIGINT) AS max_bitrate,
             COUNT(DISTINCT sample_rate) AS n_rates
      FROM ex GROUP BY fmt"""))

  /** SCD Type-2 history merge ([[MergeUpsert.scd2Merge]]): the
    * validity-interval upsert the in-place merge (q13) does not cover.
    * History carries pre-closed rows (passthrough), the batch carries
    * changed, unchanged (no-op) and brand-new keys; changed keys close
    * at the batch id and re-open with staged attrs. One full-outer
    * join, each joined row exploding in-row into its 1-2 output rows.
    */
  val q96 = Q("q96_scd2_merge",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
      val closedHist = c.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"),
          concat(lit("old "), col("c_name")).as("c_name"),
          col("c_mktsegment"),
          lit(0L).as("valid_from"), lit(1L).as("valid_to"))
      val current = c.select(col("c_custkey"), col("c_name"),
        col("c_mktsegment"),
        when(col("c_custkey") % 11 === 0, 1L).otherwise(0L)
          .as("valid_from"),
        lit(null).cast("long").as("valid_to"))
      val staged = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"),
          concat(col("c_name"), lit(" v2")).as("c_name"),
          col("c_mktsegment"))
        .unionByName(c.filter(col("c_custkey") % 5 === 0 &&
            col("c_custkey") % 7 =!= 0)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment")))
        .unionByName(c.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            concat(lit("new "), col("c_name")).as("c_name"),
            col("c_mktsegment")))
      MergeUpsert.scd2Merge(closedHist.unionByName(current), staged,
        Seq("c_custkey"), Seq("c_name", "c_mktsegment"), batchId = 2L)
    },
    Some("""
      WITH hist AS (
        SELECT c_custkey, 'old ' || c_name AS c_name, c_mktsegment,
               CAST(0 AS BIGINT) AS valid_from, CAST(1 AS BIGINT) AS valid_to
        FROM customer WHERE c_custkey % 11 = 0
        UNION ALL
        SELECT c_custkey, c_name, c_mktsegment,
               CAST(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM customer),
      staged AS (
        SELECT c_custkey, c_name || ' v2' AS c_name, c_mktsegment
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, 'new ' || c_name, c_mktsegment
        FROM customer WHERE c_custkey % 13 = 0),
      cur AS (SELECT * FROM hist WHERE valid_to IS NULL),
      j AS (SELECT coalesce(c.c_custkey, s.c_custkey) AS c_custkey,
              c.c_name AS tn, c.c_mktsegment AS tm,
              c.valid_from AS tf, c.valid_to AS tt,
              s.c_name AS sn, s.c_mktsegment AS sm,
              c.c_custkey IS NOT NULL AS in_t,
              s.c_custkey IS NOT NULL AS in_s
            FROM cur c FULL JOIN staged s ON c.c_custkey = s.c_custkey),
      flags AS (SELECT *,
              (in_t AND in_s AND NOT (tn IS NOT DISTINCT FROM sn
                 AND tm IS NOT DISTINCT FROM sm)) AS changed
            FROM j)
      SELECT c_custkey, c_name, c_mktsegment, valid_from, valid_to
      FROM hist WHERE valid_to IS NOT NULL
      UNION ALL
      SELECT c_custkey, tn, tm, tf,
             CASE WHEN changed THEN CAST(2 AS BIGINT) ELSE tt END
      FROM flags WHERE in_t
      UNION ALL
      SELECT c_custkey, sn, sm, CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
      FROM flags WHERE changed OR NOT in_t"""))

  /** Point-in-time (PIT) join against the q96 SCD2 history: each order
    * resolves the customer-name VERSION valid at its as-of point
    * (valid_from ≤ t < valid_to, NULL = open). The join is EQUI-keyed
    * on the customer key — per-key version chains are tiny, so the
    * interval test is a post-join filter, never a range join; history
    * intervals partition the timeline per key, so every order matches
    * exactly one version (row count = orders, asserted by the oracle
    * hash). The dimension side broadcasts when small (AQE).
    */
  val q97 = Q("q97_pit_join",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
      val history = MergeUpsert.scd2Merge(
        c.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to")),
        c.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"),
            concat(col("c_name"), lit(" v2")).as("c_name"),
            col("c_mktsegment")),
        Seq("c_custkey"), Seq("c_name", "c_mktsegment"), batchId = 1L)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") % 3).as("as_of"))
      orders.join(history,
          orders("o_custkey") === history("c_custkey") &&
            col("valid_from") <= col("as_of") &&
            (col("valid_to").isNull || col("as_of") < col("valid_to")))
        .select(col("o_orderkey"), col("as_of"), col("c_name"),
          col("valid_from"))
    },
    Some("""
      WITH hist AS (
        SELECT c_custkey, c_name, CAST(0 AS BIGINT) AS valid_from,
               CAST(CASE WHEN c_custkey % 7 = 0 THEN 1 END AS BIGINT)
                 AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, c_name || ' v2', CAST(1 AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM customer WHERE c_custkey % 7 = 0),
      o AS (SELECT o_orderkey, o_custkey, o_orderkey % 3 AS as_of
            FROM orders)
      SELECT o.o_orderkey, o.as_of, h.c_name, h.valid_from
      FROM o JOIN hist h ON h.c_custkey = o.o_custkey
       AND h.valid_from <= o.as_of
       AND (h.valid_to IS NULL OR o.as_of < h.valid_to)"""))

  override def all: Seq[Q] =
    Seq(q13, q14, q15, q16, q49, q51, q65, q96, q97)
}
