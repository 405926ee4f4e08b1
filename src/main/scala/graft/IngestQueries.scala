package graft

import org.apache.spark.sql.functions._

import graft.model.Recording
import graft.operators.KeyedTable
import graft.pipeline.Pipelines
import graft.sources.{Fixtures, OtrParsers}

/** Oracle coverage for the ingest surface (SURVEY §2.A S1-S6, §2.H
  * F5/F6/F11, §2.B K1, §2.D J5): the reference-shaped fixtures are
  * staged ONCE as raw parquet (see [[graft.sources.Fixtures]]) and both
  * engines — the Spark operators and the DuckDB oracle SQL — compute the
  * parse / safe-cast / key-derivation / enrich / match pipelines
  * independently over the same staged bytes.
  */
object IngestQueries {

  private val STAGE = Fixtures.stageDir

  /** DuckDB fragment: the genres dimension exactly as
    * [[Pipelines.genresLoad]] derives it (reference `server/etl.py:25-55`).
    */
  private val GENRES_SQL = s"""
    g AS (
      SELECT Nummer AS RowKey,
        MAX(COALESCE(TRY_CAST(Nummer AS INTEGER), 0)) AS Genre_Id,
        MAX(Kategorie) AS Genre
      FROM '$STAGE/genres_raw.parquet/*.parquet'
      GROUP BY 1)"""

  /** DuckDB fragment: typed+keyed+enriched recordings exactly as
    * [[Pipelines.epgRecords]] derives them (reference `server/etl.py:89-99`).
    */
  private val RECS_SQL = GENRES_SQL + s""",
    e AS (
      SELECT COALESCE(TRY_CAST(Id AS INTEGER), 0) AS Id,
        COALESCE(try_strptime(beginn, '%d.%m.%Y %H:%M:%S'), TIMESTAMP '1900-01-01') AS beginn,
        COALESCE(try_strptime(ende, '%d.%m.%Y %H:%M:%S'), TIMESTAMP '1900-01-01') AS ende,
        COALESCE(TRY_CAST(dauer AS INTEGER), 0) AS dauer,
        sender, titel, COALESCE(TRY_CAST(genre_id AS INTEGER), 0) AS genre_id,
        language
      FROM '$STAGE/epg_raw.parquet/*.parquet'
      WHERE language = 'de'),
    recs AS (
      SELECT strftime(e.beginn, '%Y_%m_%d') AS PartitionKey,
        CAST(e.Id AS VARCHAR) AS RowKey,
        e.Id, e.beginn, e.ende, e.dauer, e.sender, e.titel, e.genre_id,
        COALESCE(g.Genre, 'Sonstiges') AS genre, e.language
      FROM e LEFT JOIN g ON e.genre_id = g.Genre_Id)"""

  /** DuckDB fragment: parsed toplist rows as [[OtrParsers.parseToplist]]
    * (reference `server/etl.py:130-138`).
    */
  private val TOPLIST_SQL = s"""
    tl AS (
      SELECT epg_id, rating, previewimagelink, dt,
        strftime(dt, '%Y_%m_%d') AS PartitionKey, epg_id AS RowKey
      FROM (
        SELECT regexp_extract(chunk, 'epg_id=(\\d+)', 1) AS epg_id,
          regexp_extract(chunk, 'rating=''([^'']*)''', 1) AS rating,
          regexp_extract(chunk, 'img src=''([^'']*)''', 1) AS previewimagelink,
          COALESCE(CAST(try_strptime(regexp_extract(chunk, '(\\d{2}\\.\\d{2}\\.\\d{2})', 1), '%d.%m.%y') AS DATE), DATE '1900-01-01') AS dt
        FROM '$STAGE/toplist_chunks.parquet/*.parquet') x
      WHERE epg_id <> '')"""

  /** DuckDB fragment: parsed tracker rows as [[OtrParsers.parseTracker]]
    * (reference `server/etl.py:181-206`): from-end filename tokens →
    * `beginn`/`sender`, resolution classified from the link token.
    */
  private val TRACKER_SQL = s"""
    tr AS (
      SELECT TorrentLink, TorrentFile, finished, loading, loaded,
        COALESCE(try_strptime(p[len(p)-3] || ' ' || p[len(p)-2] || '-00', '%y.%m.%d %H-%M-%S'),
          TIMESTAMP '1900-01-01') AS beginn,
        lower(replace(p[len(p)-1], ' ', '')) AS sender,
        CASE regexp_extract(TorrentLink, 'TVOON_DE(.*)otrkey\\.torrent', 1)
          WHEN '.mpg.HD.avi.' THEN 'HD' WHEN '.mpg.HQ.avi.' THEN 'HQ'
          WHEN '.mpg.avi.' THEN 'DIVX' WHEN '.mpg.mp4.' THEN 'MP4'
          WHEN '.mpg.HD.ac3.' THEN 'HD.AC3' ELSE 'AVI' END AS Resolution
      FROM (
        SELECT *, string_split(TorrentFile, ' ') AS p FROM (
          SELECT regexp_extract(chunk, 'href=''([^'']*)''', 1) AS TorrentLink,
            regexp_extract(chunk, '''>([^<]+)</a>', 1) AS TorrentFile,
            COALESCE(TRY_CAST(regexp_extract(chunk, 'finished=(\\d+)', 1) AS INTEGER), 0) AS finished,
            COALESCE(TRY_CAST(regexp_extract(chunk, 'loading=(\\d+)', 1) AS INTEGER), 0) AS loading,
            COALESCE(TRY_CAST(regexp_extract(chunk, 'loaded=(\\d+)', 1) AS INTEGER), 0) AS loaded
          FROM '$STAGE/tracker_chunks.parquet/*.parquet') y
        WHERE TorrentFile <> '') z)"""

  val all: Seq[QuerySpec] = Seq(

    // §2.A S1/S3/S4 + §2.B K1 + E1: lenient ;-CSV → safe casts → day/Id
    // keys → broadcast genre enrich with 'Sonstiges' default → merge into
    // an empty recordings table (reference server/etl.py:57-110)
    QuerySpec("q45_epg_import",
      (s, dir) => {
        Fixtures.stage(s)
        import s.implicits._
        val genres = Pipelines.genresLoad(Fixtures.genresCsv(s))
        Pipelines.epgImport(Fixtures.epgCsv(s), genres, s.emptyDataset[Recording].toDF())
          .select("PartitionKey", "RowKey", "Id", "beginn", "ende", "dauer",
            "sender", "titel", "genre_id", "genre", "language")
      },
      Some(s"""
        WITH $RECS_SQL
        SELECT * FROM recs""")),

    // §2.A S2/S5 + §2.H F6: toplist page parser — regex field extraction
    // + dd.MM.yy date parse + day partition key (server/etl.py:130-138)
    QuerySpec("q46_toplist_parse",
      (s, dir) => {
        Fixtures.stage(s)
        import s.implicits._
        OtrParsers.parseToplist(
            Fixtures.chunks(s, "toplist_chunks.txt").select("chunk").as[String])
          .withColumnRenamed("date", "dt")
      },
      Some(s"""
        WITH $TOPLIST_SQL
        SELECT epg_id, rating, previewimagelink, dt, PartitionKey, RowKey FROM tl""")),

    // §2.A S6 + §2.H F5 (from-end token extract) + F9 (resolution
    // classifier) + the FULL E1→E2→E3 composition: parse tracker pages,
    // window on beginn, derive the composite join key on both sides and
    // match against the toplist-refined top recordings
    // (server/etl.py:163-260)
    QuerySpec("q47_torrent_match",
      (s, dir) => {
        Fixtures.stage(s)
        import s.implicits._
        val genres = Pipelines.genresLoad(Fixtures.genresCsv(s))
        val recs = Pipelines.epgImport(Fixtures.epgCsv(s), genres,
          s.emptyDataset[Recording].toDF())
        val toplist = OtrParsers.parseToplist(
          Fixtures.chunks(s, "toplist_chunks.txt").select("chunk").as[String])
        val tops = Pipelines.topRecordings(toplist, recs,
          s.emptyDataset[Recording].toDF())
        val tracker = OtrParsers.parseTracker(
          Fixtures.chunks(s, "tracker_chunks.txt").select("chunk").as[String])
        val (matched, _) = Pipelines.torrentMatch(tracker, tops,
          java.sql.Timestamp.valueOf("2021-03-01 00:00:00"))
        matched.select("PartitionKey", "RowKey", "TorrentLink", "TorrentFile",
          "beginn", "sender", "finished", "loading", "loaded")
      },
      Some(s"""
        WITH $RECS_SQL, $TOPLIST_SQL, $TRACKER_SQL,
        kept AS (SELECT * FROM tl WHERE rating IN ('sehr hoch', 'hoch')),
        tops AS (
          SELECT r.* FROM recs r
          WHERE EXISTS (SELECT 1 FROM kept k
                        WHERE k.PartitionKey = r.PartitionKey AND k.RowKey = r.RowKey)),
        windowed AS (
          SELECT *, strftime(beginn, '%y.%m.%d %H-%M-%S') || '|' || sender AS jk
          FROM tr WHERE beginn >= TIMESTAMP '2021-03-01 00:00:00'),
        keyedtops AS (
          SELECT strftime(beginn, '%y.%m.%d %H-%M-%S') || '|' || lower(replace(sender, ' ', '')) AS jk, Id
          FROM tops)
        SELECT CAST(t.Id AS VARCHAR) AS PartitionKey, w.Resolution AS RowKey,
          w.TorrentLink, w.TorrentFile, w.beginn, w.sender,
          w.finished, w.loading, w.loaded
        FROM windowed w JOIN keyedtops t ON w.jk = t.jk""")),

    // §2.B K1 + §2.I R1 end-to-end: the WHOLE ETL TICK (genres → E1
    // per-day EPG import with the reference's partition-presence guard →
    // E2 toplist refinement → E3 torrent match + cascade delete) runs
    // against real GraftTable-persisted parquet tables in a scratch dir,
    // and the FINAL STATE of all four tables is digested row-by-row. The
    // oracle replays E1→E2→E3 in SQL over the same staged fixture bytes
    // — so the orchestrator (create-if-absent, import-once, upserts,
    // insert-if-absent, cascade delete, the lot) is hash-checked, not
    // just spec-covered. On these fixtures no EPG file spills rows into
    // the other day's partition and files carry no duplicate keys, so
    // the per-day guard admits both files and the combined-file replay
    // is exact (the guard/tiebreak semantics themselves are exercised
    // with synthetic spillover/dirty days in PipelinesSpec).
    QuerySpec("q102_etl_tick",
      (s, dir) => {
        Fixtures.stage(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q102_").toString
        val (g, r, t, z) = graft.pipeline.Run.tick(s, base)
        val fmt = "yyyy-MM-dd HH:mm:ss"
        def ts(c: org.apache.spark.sql.Column) = date_format(c, fmt)
        val gd = g.read.select(lit("genres").as("tbl"),
          col("PartitionKey"), col("RowKey"),
          md5(concat_ws("|", col("Genre_Id"), col("Genre"))).as("digest"))
        def rd(df: org.apache.spark.sql.DataFrame, name: String) =
          df.select(lit(name).as("tbl"), col("PartitionKey"), col("RowKey"),
            md5(concat_ws("|", col("Id"), ts(col("beginn")), ts(col("ende")),
              col("dauer"), col("sender"), col("titel"), col("genre_id"),
              col("genre"), col("language"))).as("digest"))
        val zd = z.read.select(lit("torrents").as("tbl"),
          col("PartitionKey"), col("RowKey"),
          md5(concat_ws("|", col("Id"), col("TorrentLink"), col("TorrentFile"),
            ts(col("beginn")), col("sender"), col("finished"), col("loading"),
            col("loaded"))).as("digest"))
        val out = gd.unionByName(rd(r.read, "recordings"))
          .unionByName(rd(t.read, "top")).unionByName(zd)
        // snapshot BEFORE deleting the scratch tables the plan reads
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some(s"""
        WITH $RECS_SQL, $TOPLIST_SQL, $TRACKER_SQL,
        kept AS (SELECT * FROM tl WHERE rating IN ('sehr hoch', 'hoch')),
        tops AS (
          SELECT r.* FROM recs r
          WHERE EXISTS (SELECT 1 FROM kept k
                        WHERE k.PartitionKey = r.PartitionKey AND k.RowKey = r.RowKey)),
        windowed AS (
          SELECT *, strftime(beginn, '%y.%m.%d %H-%M-%S') || '|' || sender AS jk
          FROM tr WHERE beginn >= TIMESTAMP '2021-03-01 00:00:00'),
        topsk AS (
          SELECT t.*, strftime(t.beginn, '%y.%m.%d %H-%M-%S') || '|' || lower(replace(t.sender, ' ', '')) AS jk
          FROM tops t),
        matched AS (
          SELECT CAST(t.Id AS VARCHAR) AS PartitionKey, w.Resolution AS RowKey,
            t.Id AS Id, w.TorrentLink, w.TorrentFile, w.beginn, w.sender,
            w.finished, w.loading, w.loaded
          FROM windowed w JOIN topsk t ON w.jk = t.jk
          QUALIFY row_number() OVER (PARTITION BY CAST(t.Id AS VARCHAR), w.Resolution
            ORDER BY w.TorrentLink) = 1),
        top_final AS (SELECT * FROM topsk WHERE jk IN (SELECT jk FROM windowed)),
        rdig AS (
          SELECT PartitionKey, RowKey,
            md5(CAST(Id AS VARCHAR) || '|' || strftime(beginn, '%Y-%m-%d %H:%M:%S')
              || '|' || strftime(ende, '%Y-%m-%d %H:%M:%S') || '|' || CAST(dauer AS VARCHAR)
              || '|' || sender || '|' || titel || '|' || CAST(genre_id AS VARCHAR)
              || '|' || genre || '|' || language) AS digest
          FROM recs),
        tdig AS (
          SELECT 'top' AS PartitionKey, RowKey,
            md5(CAST(Id AS VARCHAR) || '|' || strftime(beginn, '%Y-%m-%d %H:%M:%S')
              || '|' || strftime(ende, '%Y-%m-%d %H:%M:%S') || '|' || CAST(dauer AS VARCHAR)
              || '|' || sender || '|' || titel || '|' || CAST(genre_id AS VARCHAR)
              || '|' || genre || '|' || language) AS digest
          FROM top_final),
        zdig AS (
          SELECT PartitionKey, RowKey,
            md5(CAST(Id AS VARCHAR) || '|' || TorrentLink || '|' || TorrentFile
              || '|' || strftime(beginn, '%Y-%m-%d %H:%M:%S') || '|' || sender
              || '|' || CAST(finished AS VARCHAR) || '|' || CAST(loading AS VARCHAR)
              || '|' || CAST(loaded AS VARCHAR)) AS digest
          FROM matched)
        SELECT 'genres' AS tbl, 'all' AS PartitionKey, RowKey,
          md5(CAST(Genre_Id AS VARCHAR) || '|' || Genre) AS digest FROM g
        UNION ALL SELECT 'recordings', PartitionKey, RowKey, digest FROM rdig
        UNION ALL SELECT 'top', PartitionKey, RowKey, digest FROM tdig
        UNION ALL SELECT 'torrents', PartitionKey, RowKey, digest FROM zdig""")),

    // §2.D J5: 1:N child load — children packed as one sorted struct
    // array per parent (reference Recording.loadtorrents,
    // storage/tablemodels.py:62-68); digest-projected so the compare is
    // render-stable across engines
    QuerySpec("q48_child_load",
      (s, dir) => KeyedTable.loadChildren(
          Tables.orders(s, dir).filter(col("o_orderkey") % 100 === 0)
            .select("o_orderkey", "o_totalprice"),
          Tables.lineitem(s, dir)
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
          "o_orderkey", "l_orderkey", "l_linenumber", "children")
        .select(col("o_orderkey"), col("o_totalprice"),
          size(col("children")).as("n_children"),
          expr("array_join(transform(children, c -> concat(c.l_linenumber, ':', cast(c.l_quantity as int), ':', c.l_returnflag)), '|')")
            .as("child_digest")),
      Some("""
        WITH k AS (
          SELECT l_orderkey,
            string_agg(CAST(l_linenumber AS VARCHAR) || ':' || CAST(CAST(l_quantity AS INTEGER) AS VARCHAR) || ':' || l_returnflag,
              '|' ORDER BY l_linenumber, l_quantity, l_returnflag) AS child_digest,
            count(*) AS n_children
          FROM lineitem GROUP BY 1)
        SELECT o_orderkey, o_totalprice,
          CAST(COALESCE(n_children, 0) AS INTEGER) AS n_children,
          COALESCE(child_digest, '') AS child_digest
        FROM orders LEFT JOIN k ON o_orderkey = l_orderkey
        WHERE o_orderkey % 100 = 0""")),

    // ORC sink + source round trip: lineitem → ORC files → read back →
    // aggregate. The aggregate runs over the RE-READ bytes, so type
    // fidelity (bigint/double/varchar/timestamp) through the second
    // columnar format is what's hash-checked; the oracle computes the
    // same aggregate straight off the parquet. At scale ORC is the
    // interchange path to Hive-era warehouses — same pushdown/pruning
    // contract as the parquet scans (PlanSpec asserts parquet; ORC uses
    // the identical DSv1 filter API).
    QuerySpec("q148_orc_roundtrip",
      (s, dir) => {
        val base = java.nio.file.Files.createTempDirectory("graft_q148_").toString
        Tables.parquet(s, s"$dir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
            col("l_returnflag"), col("l_shipdate"))
          .write.mode("overwrite").orc(s"$base/li_orc")
        val back = s.read.orc(s"$base/li_orc")
        val out = back.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
            graft.Agg.sumDec4(col("l_quantity")).as("sum_qty"),
            graft.Agg.sumDec4(col("l_extendedprice")).as("sum_price"),
            max(unix_micros(col("l_shipdate"))).as("max_ship_us"),
            min(col("l_orderkey")).as("min_key"))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT l_returnflag, count(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
          max(epoch_us(CAST(l_shipdate AS TIMESTAMP))) AS max_ship_us,
          min(l_orderkey) AS min_key
        FROM lineitem GROUP BY 1""")),

    // JSON-lines sink + source round trip (q148's ORC sibling — the
    // interchange format of every crawl/annotation pipeline): documents
    // → JSONL files → schema'd read back → per-language aggregate with
    // a text digest, hash-checked against the parquet-direct oracle —
    // string escaping and integer fidelity through the text format is
    // what's exercised.
    QuerySpec("q156_jsonl_roundtrip",
      (s, dir) => {
        val base = java.nio.file.Files.createTempDirectory("graft_q156_").toString
        Tables.parquet(s, s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").json(s"$base/docs_jsonl")
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        val back = s.read.schema(schema).json(s"$base/docs_jsonl")
        val out = back.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_id"),
            md5(concat_ws("|", sort_array(collect_list(
              concat_ws(":", col("doc_id"), md5(col("text"))))))).as("docs_digest"))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          min(doc_id) AS min_id,
          md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text), '|'
            ORDER BY CAST(doc_id AS VARCHAR) || ':' || md5(text))) AS docs_digest
        FROM documents GROUP BY 1""")),

    // Streaming CDC materialization: the events stream upserts per-user
    // running aggregates into a persisted GraftTable via foreachBatch —
    // the standard "stream → keyed serving table" sink. Each batch
    // merges COMMUTATIVELY (count/sum/max add to the stored row), so
    // the final table state is independent of micro-batch boundaries;
    // the oracle is the plain batch aggregate over all events. Only
    // touched partitions rewrite per batch (GraftTable's dynamic
    // partition overwrite), so per-tick cost scales with the batch's
    // key footprint, not table size.
    QuerySpec("q149_stream_upsert",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q149_").toString
        val batchSchema = Tables.parquet(s, s"$dir/events.parquet").schema
        val raw = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val ev = if (batchSchema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000"))) else raw
        val tblSchema = org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, pk BIGINT, n_events BIGINT, sum_cents BIGINT, last_us BIGINT")
        val t = new graft.operators.GraftTable(s, s"$base/user_stats",
          Seq("user_id"), "pk")
        t.createIfNotExists(tblSchema)
        val q = ev.writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$base/ckpt")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val inc = b.groupBy(col("user_id"))
              .agg(count(lit(1)).as("i_n"),
                sum(expr("CAST(round(value * 100) AS BIGINT)")).as("i_c"),
                max(unix_micros(col("ts"))).as("i_l"))
            val cur = t.read
            val merged = inc.join(cur, Seq("user_id"), "left_outer")
              .select(col("user_id"), (col("user_id") % 4).as("pk"),
                (coalesce(col("n_events"), lit(0L)) + col("i_n")).as("n_events"),
                (coalesce(col("sum_cents"), lit(0L)) + col("i_c")).as("sum_cents"),
                greatest(coalesce(col("last_us"), lit(Long.MinValue)), col("i_l")).as("last_us"))
            t.upsertReplace(merged)
            ()
          }.start()
        q.awaitTermination()
        val out = t.read.select(col("user_id"), col("n_events"),
          col("sum_cents"), col("last_us"))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT user_id, count(*) AS n_events,
          CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
          max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        FROM events GROUP BY 1"""))
    ,

    // CSV sink + source round trip (completing the sink family:
    // parquet / ORC q148 / JSONL q156 / CSV): documents plus a
    // deliberately hostile derived column (embedded comma, quote, and
    // NEWLINE) → CSV files with RFC-style doubled-quote escaping →
    // multiLine schema'd read back → per-language digest aggregate
    // hash-checked against the parquet-direct oracle. Quoting,
    // escaping, record-spanning rows, and integer fidelity through the
    // text format are what's exercised; a null sentinel keeps empty
    // strings distinct from nulls both ways.
    QuerySpec("q163_csv_roundtrip",
      (s, dir) => {
        val base = java.nio.file.Files.createTempDirectory("graft_q163_").toString
        Tables.parquet(s, s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
          .withColumn("gnarly", concat(col("lang"), lit(",\"q\"\n|"), col("source")))
          .write.mode("overwrite")
          .option("header", "true").option("escape", "\"")
          .option("nullValue", "__NULL__")
          .csv(s"$base/docs_csv")
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT, gnarly STRING")
        val back = s.read.schema(schema)
          .option("header", "true").option("multiLine", "true").option("escape", "\"")
          .option("nullValue", "__NULL__")
          .csv(s"$base/docs_csv")
        val out = back.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            md5(concat_ws("|", sort_array(collect_list(concat_ws(":",
              col("doc_id"), md5(col("text")), md5(col("gnarly"))))))).as("docs_digest"))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH g AS (
          SELECT doc_id, text, lang, n_chars,
            lang || ',"q"' || chr(10) || '|' || source AS gnarly
          FROM documents)
        SELECT lang, count(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text) || ':' || md5(gnarly), '|'
            ORDER BY CAST(doc_id AS VARCHAR) || ':' || md5(text) || ':' || md5(gnarly))) AS docs_digest
        FROM g GROUP BY 1""")),

    // Checkpoint KILL/RESTART recovery — the exactly-once contract a
    // production ingest pipeline actually relies on: the events table
    // staged as 8 input files, streamed one file per micro-batch into
    // a parquet FileStreamSink; the query is STOPPED mid-run (after at
    // least one committed batch), then a fresh query on the SAME
    // checkpoint drains the rest. The sink's commit log excludes any
    // uncommitted files from the killed attempt, so the re-read output
    // aggregates to exactly the batch answer — independent of where
    // the kill landed. The oracle is the plain batch aggregate.
    QuerySpec("q170_checkpoint_recovery",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q170_").toString
        val ev0 = Tables.parquet(s, s"$dir/events.parquet")
        ev0.repartition(8).write.mode("overwrite").parquet(s"$base/in")
        val schema = s.read.parquet(s"$base/in").schema
        def transformed = {
          val raw = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
          val ev = if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000"))) else raw
          ev.select(col("user_id"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
            unix_micros(col("ts")).as("ts_us"))
        }
        def start() = transformed.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt").start()
        // phase 1: run until at least one batch commits, then kill
        val q1 = start()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (q1.recentProgress.map(_.numInputRows).sum < 1 &&
               System.nanoTime() < deadline) Thread.sleep(50)
        q1.stop(); q1.awaitTermination()
        // phase 2: fresh query, same checkpoint — drains the remainder
        val q2 = start()
        q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
        // the sink's _spark_metadata log defines the committed set
        val out = s.read.parquet(s"$base/out")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"),
            max(col("ts_us")).as("last_us"))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT user_id, count(*) AS n_events,
          CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
          max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        FROM events GROUP BY 1""")),

    // Table COMPACTION under the oracle — the small-files maintenance
    // pass: per-user aggregates upserted in FIVE separate ticks (each
    // rewriting touched partitions at task parallelism → many small
    // files), then GraftTable.compact() collapses every partition to
    // one file. The re-read content must equal the one-shot batch
    // aggregate — compaction changes layout, never data.
    QuerySpec("q184_table_compaction",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q184_").toString
        val ev = Tables.events(s, dir)
        val agg = ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"),
            max(unix_micros(col("ts"))).as("last_us"))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/t", Seq("user_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, n_events BIGINT, sum_cents BIGINT, last_us BIGINT, pk BIGINT"))
        (0 until 5).foreach(i =>
          t.upsertReplace(agg.filter(col("user_id") % 5 === i)))
        t.compact()
        val out = t.read.select(col("user_id"), col("n_events"),
          col("sum_cents"), col("last_us"))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT user_id, count(*) AS n_events,
          CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
          max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        FROM events GROUP BY 1""")),

    // TIME TRAVEL under the oracle — the versioned-table CDC story:
    // two upsert ticks (half the events, then the full recompute) on a
    // GraftTable that keeps every version's file set; tableDiff runs
    // between readAt(tick-1) and the live table — self-serve CDC with
    // no caller-held snapshots. The oracle recomputes both tick states
    // from the raw events and replays the diff classification.
    QuerySpec("q186_time_travel_diff",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q186_").toString
        val ev = Tables.events(s, dir)
        def agg(e: org.apache.spark.sql.DataFrame) = e.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"),
            max(unix_micros(col("ts"))).as("last_us"))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/t", Seq("user_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, n_events BIGINT, sum_cents BIGINT, last_us BIGINT, pk BIGINT"))
        t.upsertReplace(agg(ev.filter(unix_micros(col("ts")) % 2 === 0)))
        val tick1 = t.currentVersion
        t.upsertReplace(agg(ev))
        val out = graft.operators.Relational.tableDiff(
          t.readAt(tick1).drop("pk"), t.read.drop("pk"), Seq("user_id"))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        a1 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(SUM(cents) AS BIGINT) AS sum_cents, max(us) AS last_us
          FROM e WHERE us % 2 = 0 GROUP BY 1),
        a2 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(SUM(cents) AS BIGINT) AS sum_cents, max(us) AS last_us
          FROM e GROUP BY 1),
        d AS (
          SELECT COALESCE(a1.user_id, a2.user_id) AS user_id,
            CASE WHEN a2.user_id IS NULL THEN 'delete'
                 WHEN a1.user_id IS NULL THEN 'insert'
                 WHEN a1.n_events = a2.n_events
                  AND a1.sum_cents = a2.sum_cents
                  AND a1.last_us = a2.last_us THEN NULL
                 ELSE 'update' END AS change,
            CASE WHEN a1.user_id IS NULL OR a2.user_id IS NULL THEN 0
                 ELSE (CASE WHEN a1.n_events IS DISTINCT FROM a2.n_events
                            THEN 1 ELSE 0 END)
                    + (CASE WHEN a1.sum_cents IS DISTINCT FROM a2.sum_cents
                            THEN 1 ELSE 0 END)
                    + (CASE WHEN a1.last_us IS DISTINCT FROM a2.last_us
                            THEN 1 ELSE 0 END) END AS n_changed
          FROM a1 FULL JOIN a2 ON a1.user_id = a2.user_id)
        SELECT user_id, change, CAST(n_changed AS BIGINT) AS n_changed
        FROM d WHERE change IS NOT NULL""")),

    // FILE-LEVEL CDC read under the oracle: tick 1 seeds every
    // partition (even-timestamp aggregate over all users), tick 2
    // upserts the FULL aggregate for users in partitions 0-1 only;
    // readChangesSince(tick1) resolves purely from the manifest diff
    // and must return exactly the post-tick-2 state of the touched
    // partitions — untouched partitions contribute nothing.
    QuerySpec("q208_cdc_read_changes",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q208_").toString
        val ev = Tables.events(s, dir)
        val us = unix_micros(col("ts"))
        def agg(e: org.apache.spark.sql.DataFrame) = e.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn("pk", col("user_id") % 8)
        val t = new graft.operators.GraftTable(s, s"$base/t", Seq("user_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, n_events BIGINT, pk BIGINT"))
        t.upsertReplace(agg(ev.filter(us % 2 === 0)))
        val tick1 = t.currentVersion
        t.upsertReplace(agg(ev.filter(col("user_id") % 8 < 2)))
        val out = t.readChangesSince(tick1)
          .select(col("user_id"), col("n_events"), col("pk"))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          CAST(user_id % 8 AS BIGINT) AS pk
        FROM events WHERE user_id % 8 < 2 GROUP BY 1""")),

    // INCREMENTAL DOWNSTREAM MAINTENANCE — the CDC feed consumed (the
    // composition q208's read exists for): a keyed source table
    // receives two upsert ticks; after each, a downstream per-partition
    // aggregate table refreshes ONLY from readChangesSince (the
    // manifest-diff feed), recomputing and replacing exactly the
    // touched partitions' aggregate rows. The final downstream state
    // must equal the direct aggregate over the source's final rows —
    // though no downstream tick ever read an untouched partition.
    QuerySpec("q209_incremental_downstream",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q209_").toString
        val ev = Tables.events(s, dir)
        val us = unix_micros(col("ts"))
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          (col("user_id") % 8).as("pk"), us.as("us"))
        val src = new graft.operators.GraftTable(s, s"$base/src",
          Seq("event_id"), "pk")
        src.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT, us BIGINT"))
        val down = new graft.operators.GraftTable(s, s"$base/down",
          Seq("pk"), "pk")
        down.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "pk BIGINT, n_events BIGINT, sum_cents BIGINT"))
        def refresh(since: Long): Unit = {
          val cdc = src.readChangesSince(since)
          down.upsertReplace(cdc.groupBy(col("pk"))
            .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
            .select("pk", "n_events", "sum_cents"))
          ()
        }
        val v0 = src.currentVersion
        src.upsertReplace(rows.filter(col("us") % 2 === 0).drop("us"))
        refresh(v0)
        val v1 = src.currentVersion
        src.upsertReplace(rows.filter(col("us") % 2 === 1 &&
          col("user_id") % 8 < 3).drop("us"))
        refresh(v1)
        val out = down.read.select("pk", "n_events", "sum_cents")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        pick AS (
          SELECT * FROM e WHERE us % 2 = 0
          UNION ALL
          SELECT * FROM e WHERE us % 2 = 1 AND user_id % 8 < 3)
        SELECT CAST(user_id % 8 AS BIGINT) AS pk,
          CAST(count(*) AS BIGINT) AS n_events,
          CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM pick GROUP BY 1""")),

    // SCHEMA EVOLUTION under the oracle: tick 1 writes the narrow
    // schema; tick 2's upsert carries a NEW column (sum_cents) → the
    // table evolves in place (new column nullable); tick 3's upsert is
    // MISSING the evolved column → padded with null, replacing its
    // keys' stored values (REPLACE semantics). The output reads BOTH
    // the live table and a TIME TRAVEL of tick 1 through the evolved
    // schema (its rows project sum_cents = null). The oracle replays
    // the three key-level replaces as full-join chains.
    QuerySpec("q196_schema_evolution",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q196_").toString
        val ev = Tables.events(s, dir)
        val us = unix_micros(col("ts"))
        val cents = expr("CAST(round(value * 100) AS BIGINT)")
        val t = new graft.operators.GraftTable(s, s"$base/t", Seq("user_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, n_events BIGINT, pk BIGINT"))
        t.upsertReplace(ev.filter(us % 2 === 0).groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn("pk", col("user_id") % 4))
        val tick1 = t.currentVersion
        t.upsertReplace(ev.filter(col("user_id") % 3 === 0).groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"), sum(cents).as("sum_cents"))
          .withColumn("pk", col("user_id") % 4))
        t.upsertReplace(ev.filter(col("user_id") % 5 === 1).groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn("pk", col("user_id") % 4))
        val out = t.readAt(tick1)
          .select(lit("t1").as("at"), col("user_id"), col("n_events"), col("sum_cents"))
          .unionByName(t.read
            .select(lit("live").as("at"), col("user_id"), col("n_events"), col("sum_cents")))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        a1 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          FROM e WHERE us % 2 = 0 GROUP BY 1),
        a2 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_cents
          FROM e WHERE user_id % 3 = 0 GROUP BY 1),
        a3 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          FROM e WHERE user_id % 5 = 1 GROUP BY 1),
        t1 AS (
          SELECT user_id, n_events, CAST(NULL AS BIGINT) AS sum_cents FROM a1),
        t2 AS (
          SELECT COALESCE(a2.user_id, t1.user_id) AS user_id,
            COALESCE(a2.n_events, t1.n_events) AS n_events,
            CASE WHEN a2.user_id IS NOT NULL THEN a2.sum_cents
                 ELSE t1.sum_cents END AS sum_cents
          FROM t1 FULL JOIN a2 ON t1.user_id = a2.user_id),
        t3 AS (
          SELECT COALESCE(a3.user_id, t2.user_id) AS user_id,
            COALESCE(a3.n_events, t2.n_events) AS n_events,
            CASE WHEN a3.user_id IS NOT NULL THEN CAST(NULL AS BIGINT)
                 ELSE t2.sum_cents END AS sum_cents
          FROM t2 FULL JOIN a3 ON t2.user_id = a3.user_id)
        SELECT 't1' AS at, user_id, n_events, CAST(NULL AS BIGINT) AS sum_cents
        FROM a1
        UNION ALL
        SELECT 'live' AS at, user_id, n_events, sum_cents FROM t3""")),

    // ZONE-MAP DATA SKIPPING under the oracle: four insert-if-absent
    // ticks land cents-banded files (append-only, so each file's
    // [min,max] stays tight), a fifth tick replays band 1 with altered
    // values (absent-only semantics must keep the originals), then the
    // stats-pruned range scan reads ONLY files whose zone maps may
    // intersect [2000, 2999] — result ≡ the plain filter, which is what
    // the oracle checks (the file-skip itself is spec-asserted).
    QuerySpec("q212_stats_pruned_scan",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q212_").toString
        val ev = Tables.events(s, dir)
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("pk", col("user_id") % 4)
        val band = least(floor(col("cents") / 5000), lit(3))
        val t = new graft.operators.GraftTable(s, s"$base/t",
          Seq("event_id"), "pk", statsCols = Seq("cents"))
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT"))
        for (b <- 0 to 3) t.insertIfAbsent(rows.filter(band === b))
        // key-present replay: must insert nothing
        t.insertIfAbsent(rows.filter(band === 1)
          .withColumn("cents", col("cents") + 7))
        val out = t.readWhereBetween("cents", 2000, 2999)
          .select("event_id", "user_id", "cents", "pk")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT event_id, user_id,
          CAST(round(value * 100) AS BIGINT) AS cents,
          CAST(user_id % 4 AS BIGINT) AS pk
        FROM events
        WHERE CAST(round(value * 100) AS BIGINT) BETWEEN 2000 AND 2999""")),

    // DELETION VECTORS under the oracle: two row-level deletes mark
    // (file, row-position) pairs without rewriting a single data file;
    // a later upsert of partition pk=1 re-inserts ALL its keys (cents+1)
    // — including previously DV-deleted ones, the REPLACE semantics —
    // while the other partitions keep their vector filtering. The final
    // read must thread the version-gated anti-join through every one of
    // those states.
    QuerySpec("q213_deletion_vectors",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q213_").toString
        val ev = Tables.events(s, dir)
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/t", Seq("event_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT"))
        t.upsertReplace(rows)
        t.deleteWhere(col("cents") % 10 === 3)
        t.deleteWhere(col("user_id") % 7 === 2)
        t.upsertReplace(rows.filter(col("pk") === 1)
          .withColumn("cents", col("cents") + 1))
        val out = t.read.select("event_id", "user_id", "cents", "pk")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events)
        SELECT event_id, user_id,
          CASE WHEN pk = 1 THEN cents + 1 ELSE cents END AS cents, pk
        FROM e
        WHERE pk = 1 OR NOT (cents % 10 = 3 OR user_id % 7 = 2)""")),

    // EXACTLY-ONCE SINK under the oracle: three overlapping batch
    // upserts with per-batch values, then batch 1 is DELIVERED AGAIN
    // (the at-least-once retry) carrying poisoned values — the txn
    // marker recorded atomically with batch 2's commit must skip it, so
    // the final state shows each key's LAST legitimate batch only.
    QuerySpec("q214_exactly_once_sink",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q214_").toString
        val ev = Tables.events(s, dir)
        val us = unix_micros(col("ts"))
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          (us % 3).as("m"))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/t", Seq("event_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT"))
        def batch(b: Long, df: org.apache.spark.sql.DataFrame): Boolean =
          t.upsertReplaceBatch("q214", b, df.select("event_id", "user_id", "cents", "pk"))
        batch(0, rows.filter(col("m") === 0))
        batch(1, rows.filter(col("m") <= 1).withColumn("cents", col("cents") + 10))
        batch(2, rows.filter(col("m") >= 1).withColumn("cents", col("cents") + 20))
        // the retry: batch 1 again, poisoned — MUST be skipped
        val applied = batch(1, rows.filter(col("m") <= 1)
          .withColumn("cents", col("cents") + 999))
        require(!applied, "replayed batch must be skipped")
        val out = t.read.select("event_id", "user_id", "cents", "pk")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT event_id, user_id,
          CAST(round(value * 100) AS BIGINT)
            + CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) % 3 = 0 THEN 10
                   ELSE 20 END AS cents,
          CAST(user_id % 4 AS BIGINT) AS pk
        FROM events""")),

    // GENERAL MERGE INTO under the oracle: one atomic commit carrying a
    // conditional DELETE (first clause), a conditional UPDATE (second —
    // clause ORDER is load-bearing: rows hitting the delete condition
    // never reach the update), matched rows NO clause claims (kept
    // unchanged), and a conditional INSERT of never-seen keys. The SQL
    // replays the exact clause ladder with a LEFT JOIN + CASE and the
    // insert as an anti-join — one wrong clause decision anywhere breaks
    // the hash.
    QuerySpec("q215_merge_into",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q215_").toString
        val ev = Tables.events(s, dir)
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/t", Seq("event_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT"))
        t.upsertReplace(rows)
        import graft.operators.GraftTable.{src, MatchedDelete, MatchedUpdate}
        val matchedSrc = rows.filter(col("user_id") % 3 === 0)
          .select(col("event_id"), col("user_id"), (col("cents") + 7).as("v"))
        val insertSrc = rows.filter(col("user_id") % 5 === 0)
          .select((-(col("event_id") + 1)).as("event_id"),
            col("user_id"), col("cents").as("v"))
        t.merge(matchedSrc.unionByName(insertSrc),
          matched = Seq(
            MatchedDelete(src("v") % 10 === 3),
            MatchedUpdate(src("v") % 2 === 0,
              Map("cents" -> (src("v") + col("cents"))))),
          notMatchedInsert = Some((src("v") % 7 =!= 2, Map(
            "event_id" -> src("event_id"), "user_id" -> src("user_id"),
            "cents" -> src("v"), "pk" -> (src("user_id") % 4)))))
        val out = t.read.select("event_id", "user_id", "cents", "pk")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        s AS (
          SELECT event_id, user_id, cents + 7 AS v
          FROM e WHERE user_id % 3 = 0
          UNION ALL
          SELECT -(event_id + 1) AS event_id, user_id, cents AS v
          FROM e WHERE user_id % 5 = 0),
        m AS (
          SELECT e.event_id, e.user_id,
            CASE WHEN s.event_id IS NOT NULL AND NOT (s.v % 10 = 3)
                      AND s.v % 2 = 0
                 THEN s.v + e.cents ELSE e.cents END AS cents,
            e.pk
          FROM e LEFT JOIN s ON e.event_id = s.event_id
          WHERE s.event_id IS NULL OR NOT (s.v % 10 = 3)),
        i AS (
          SELECT s.event_id, s.user_id, s.v AS cents,
            CAST(s.user_id % 4 AS BIGINT) AS pk
          FROM s LEFT JOIN e ON s.event_id = e.event_id
          WHERE e.event_id IS NULL AND NOT (s.v % 7 = 2))
        SELECT event_id, user_id, cents, pk FROM m
        UNION ALL
        SELECT event_id, user_id, cents, pk FROM i""")),

    // FILE-LEVEL BLOOM INDEX under the oracle: banded ingestion with
    // bloomCols=cents, then a POINT LOOKUP on a data-derived value (the
    // smallest event's cents — never hardcoded) that reads only files
    // whose bloom may contain it. Result ≡ the plain equality filter;
    // the file-skip behavior itself is spec-asserted.
    QuerySpec("q224_bloom_point_lookup",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q224_").toString
        val ev = Tables.events(s, dir)
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("pk", col("user_id") % 4)
        val band = least(floor(col("cents") / 5000), lit(3))
        val t = new graft.operators.GraftTable(s, s"$base/t",
          Seq("event_id"), "pk", bloomCols = Seq("cents"))
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT"))
        for (b <- 0 to 3) t.insertIfAbsent(rows.filter(band === b))
        val k = rows.orderBy("event_id").select("cents").limit(1)
          .collect()(0).getLong(0)
        val out = t.readWhereEquals("cents", k)
          .select("event_id", "user_id", "cents", "pk")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events)
        SELECT event_id, user_id, cents, pk FROM e
        WHERE cents = (SELECT cents FROM e ORDER BY event_id LIMIT 1)""")),

    // ROUND-7 STORAGE CAPSTONE — every production feature of the table
    // layer composed into ONE versioned history: CHECK constraint (a
    // poisoned mutation must abort WITHOUT trace — its absence is
    // hash-checked), general MERGE (update/delete/insert), row-level
    // deletion vectors, an exactly-once batch upsert whose REPLAYED
    // delivery must skip, clustered compaction (content-invariant), a
    // zone-map+bloom pruned range read of the final state, and time
    // travel back across all of it. One wrong clause, vector, txn
    // marker, or version anywhere breaks the hash.
    QuerySpec("q225_storage_capstone",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q225_").toString
        val ev = Tables.events(s, dir)
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/t",
          Seq("event_id"), "pk", statsCols = Seq("cents"),
          bloomCols = Seq("cents"))
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT"))
        t.addCheck("pk_range", "pk BETWEEN 0 AND 3")
        t.upsertReplace(rows)
        val v1 = t.currentVersion
        // the poisoned mutation: violates the check, must abort clean
        val poisoned = try {
          t.upsertReplace(rows.limit(1).withColumn("pk", lit(9L))); false
        } catch { case _: graft.operators.CheckViolationException => true }
        require(poisoned, "check violation must abort")
        require(t.currentVersion == v1, "aborted mutation must not commit")
        import graft.operators.GraftTable.{src, MatchedDelete, MatchedUpdate}
        val matchedSrc = rows.filter(col("user_id") % 3 === 0)
          .select(col("event_id"), col("user_id"), (col("cents") + 7).as("v"))
        val insertSrc = rows.filter(col("user_id") % 7 === 1)
          .select((-(col("event_id") + 1)).as("event_id"),
            col("user_id"), col("cents").as("v"))
        t.merge(matchedSrc.unionByName(insertSrc),
          matched = Seq(
            MatchedDelete(src("v") % 10 === 3),
            MatchedUpdate(src("v") % 2 === 0,
              Map("cents" -> (src("v") + col("cents"))))),
          notMatchedInsert = Some((src("v") % 3 =!= 1, Map(
            "event_id" -> src("event_id"), "user_id" -> src("user_id"),
            "cents" -> src("v"), "pk" -> (src("user_id") % 4)))))
        t.deleteWhere(col("cents") % 97 === 13)
        val batch = rows.filter(col("user_id") % 11 === 5)
          .withColumn("cents", col("cents") + 1000)
        require(t.upsertReplaceBatch("cap", 1, batch.select(
          "event_id", "user_id", "cents", "pk")))
        // the at-least-once replay, poisoned — must SKIP
        require(!t.upsertReplaceBatch("cap", 1, batch
          .withColumn("cents", col("cents") + 9999).select(
            "event_id", "user_id", "cents", "pk")))
        t.compact(4, clusterBy = Seq("cents")) // content-invariant
        val out = t.readWhereBetween("cents", 2000, 4999)
          .select(lit("range").as("at"), col("event_id"), col("user_id"),
            col("cents"), col("pk"))
          .unionByName(t.readAt(v1).filter(col("user_id") % 13 === 2)
            .select(lit("travel").as("at"), col("event_id"), col("user_id"),
              col("cents"), col("pk")))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        s AS (
          SELECT event_id, user_id, cents + 7 AS v
          FROM e WHERE user_id % 3 = 0
          UNION ALL
          SELECT -(event_id + 1) AS event_id, user_id, cents AS v
          FROM e WHERE user_id % 7 = 1),
        m AS (
          SELECT e.event_id, e.user_id,
            CASE WHEN s.event_id IS NOT NULL AND NOT (s.v % 10 = 3)
                      AND s.v % 2 = 0
                 THEN s.v + e.cents ELSE e.cents END AS cents,
            e.pk
          FROM e LEFT JOIN s ON e.event_id = s.event_id
          WHERE s.event_id IS NULL OR NOT (s.v % 10 = 3)
          UNION ALL
          SELECT s.event_id, s.user_id, s.v AS cents,
            CAST(s.user_id % 4 AS BIGINT) AS pk
          FROM s LEFT JOIN e ON s.event_id = e.event_id
          WHERE e.event_id IS NULL AND NOT (s.v % 3 = 1)),
        d AS (SELECT * FROM m WHERE NOT (cents % 97 = 13)),
        b AS (
          SELECT event_id, user_id, cents + 1000 AS cents, pk
          FROM e WHERE user_id % 11 = 5),
        f AS (
          SELECT * FROM d WHERE event_id NOT IN (SELECT event_id FROM b)
          UNION ALL SELECT * FROM b)
        SELECT 'range' AS at, event_id, user_id, cents, pk FROM f
        WHERE cents BETWEEN 2000 AND 4999
        UNION ALL
        SELECT 'travel' AS at, event_id, user_id, cents, pk FROM e
        WHERE user_id % 13 = 2""")),

    // DELETE-AWARE INCREMENTAL VIEW MAINTENANCE under the oracle: a
    // grouped (count, sum) view bootstrapped at v1, then maintained
    // PURELY from the v1→head snapshot diff across an UPDATE tick that
    // MOVES rows between groups (the group key derives from the updated
    // value) and a DELETE tick — the oracle computes the direct
    // aggregate of the final state, which the maintained view must
    // equal without ever rescanning unchanged keys.
    QuerySpec("q226_ivm_with_deletes",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q226_").toString
        val ev = Tables.events(s, dir)
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/t", Seq("event_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT"))
        t.upsertReplace(rows)
        val v1 = t.currentVersion
        // update tick: moves rows across g = cents DIV 3000 groups
        t.upsertReplace(rows.filter(col("user_id") % 4 === 1)
          .withColumn("cents", col("cents") + 4500))
        // delete tick
        t.deleteByKeys(rows.filter(col("user_id") % 6 === 2).select("event_id"))
        def withG(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("g", expr("cents DIV 3000"))
        val view1 = withG(t.readAt(v1)).groupBy("g")
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_v"))
        val out = graft.operators.Incremental.maintainGroupAgg(
          view1, withG(t.readAt(v1)), withG(t.read),
          keys = Seq("event_id"), g = "g", v = "cents")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        s2 AS (
          SELECT event_id,
            CASE WHEN user_id % 4 = 1 THEN cents + 4500 ELSE cents END AS cents,
            user_id
          FROM e),
        s3 AS (SELECT * FROM s2 WHERE NOT (user_id % 6 = 2))
        SELECT cents // 3000 AS g, count(*) AS n_rows,
          CAST(SUM(cents) AS BIGINT) AS sum_v
        FROM s3 GROUP BY 1""")),

    // RESTORE / rollback under the oracle: a DV delete and an upsert
    // build a head state, restore(v1) rolls the live table back —
    // resurrecting the DV-deleted rows, the hard part — a post-restore
    // tick mutates normally, and the PRE-RESTORE head stays
    // time-travelable. Both states replayed in SQL; a resurrection
    // failure or a history loss anywhere breaks the hash.
    QuerySpec("q228_restore",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q228_").toString
        val ev = Tables.events(s, dir)
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/t", Seq("event_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT"))
        t.upsertReplace(rows)
        val v1 = t.currentVersion
        t.deleteWhere(col("cents") % 11 === 7)
        t.upsertReplace(rows.filter(col("user_id") % 5 === 0)
          .withColumn("cents", col("cents") + 100))
        val head = t.currentVersion
        t.restore(v1)
        t.upsertReplace(rows.filter(col("user_id") % 7 === 0)
          .withColumn("cents", col("cents") + 5))
        val out = t.readAt(head)
          .select(lit("head").as("at"), col("event_id"), col("user_id"),
            col("cents"), col("pk"))
          .unionByName(t.read
            .select(lit("live").as("at"), col("event_id"), col("user_id"),
              col("cents"), col("pk")))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events)
        SELECT 'head' AS at, event_id, user_id, cents + 100 AS cents, pk
        FROM e WHERE user_id % 5 = 0
        UNION ALL
        SELECT 'head' AS at, event_id, user_id, cents, pk
        FROM e WHERE NOT (user_id % 5 = 0) AND NOT (cents % 11 = 7)
        UNION ALL
        SELECT 'live' AS at, event_id, user_id,
          CASE WHEN user_id % 7 = 0 THEN cents + 5 ELSE cents END AS cents, pk
        FROM e""")),

    // RANGE-CLUSTERING COMPACTION under the oracle: four interleaved
    // ticks (each spans the FULL cents range — zone maps prune nothing),
    // then compactRange re-cuts every partition into range-disjoint
    // files and the same pruned scan reads a handful of them. Result ≡
    // the plain filter; the selectivity flip is spec-asserted.
    QuerySpec("q229_range_cluster_scan",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q229_").toString
        val ev = Tables.events(s, dir)
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/t",
          Seq("event_id"), "pk", statsCols = Seq("cents"))
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT"))
        for (b <- 0 to 3) t.insertIfAbsent(rows.filter(col("event_id") % 4 === b))
        t.compactRange(32, Seq("cents"))
        val out = t.readWhereBetween("cents", 2000, 2999)
          .select("event_id", "user_id", "cents", "pk")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT event_id, user_id,
          CAST(round(value * 100) AS BIGINT) AS cents,
          CAST(user_id % 4 AS BIGINT) AS pk
        FROM events
        WHERE CAST(round(value * 100) AS BIGINT) BETWEEN 2000 AND 2999""")),

    // STREAMING CDC APPLY, exactly-once — the round's statement surface
    // composed with Structured Streaming: a change feed (conditional
    // update / delete / insert ops) arrives as three micro-batch files,
    // each foreachBatch applies its batch through mergeBatch (the
    // txn-marked MERGE), and then the WHOLE FEED IS REDELIVERED through
    // a fresh checkpoint — at-least-once, the real failure mode. The
    // update clause is `cents += delta`, deliberately NON-idempotent:
    // if a single replayed batch applies twice, the hash breaks. The
    // oracle replays the one-shot CDC outcome.
    QuerySpec("q230_stream_merge_cdc",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q230_").toString
        val ev = Tables.events(s, dir)
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/t", Seq("event_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT"))
        t.upsertReplace(rows)
        // disjoint-key change feed: updates (u%3=0), deletes (u%9=4 ⊂
        // u%3=1), inserts (fresh negative keys)
        val upd = rows.filter(col("user_id") % 3 === 0)
          .select(col("event_id"), col("user_id"), lit("upd").as("op"),
            lit(7L).as("delta"), col("cents").as("v"))
        val del = rows.filter(col("user_id") % 9 === 4)
          .select(col("event_id"), col("user_id"), lit("del").as("op"),
            lit(0L).as("delta"), lit(0L).as("v"))
        val ins = rows.filter(col("user_id") % 7 === 2)
          .select((-(col("event_id") + 1)).as("event_id"), col("user_id"),
            lit("ins").as("op"), lit(0L).as("delta"), col("cents").as("v"))
        val ops = upd.unionByName(del).unionByName(ins)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
        (0 until 3).foreach { i =>
          val tmp = s"$base/tmp$i"
          ops.filter(abs(col("event_id")) % 3 === i).coalesce(1).write.parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = new java.io.File(s"$base/in/b$i.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(1000000000000L + i * 60000L)
          ()
        }
        import graft.operators.GraftTable.{src, MatchedDelete, MatchedUpdate}
        def runStream(ckpt: String): Unit = {
          val q = s.readStream.schema(ops.schema)
            .option("maxFilesPerTrigger", 1).option("latestFirst", "false")
            .parquet(s"$base/in")
            .writeStream
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
              graft.operators.GraftTable.retryOnConflict() {
                t.mergeBatch("cdc", id, b,
                  matched = Seq(
                    MatchedDelete(src("op") === "del"),
                    MatchedUpdate(src("op") === "upd",
                      Map("cents" -> (col("cents") + src("delta"))))),
                  notMatchedInsert = Some((src("op") === "ins", Map(
                    "event_id" -> src("event_id"), "user_id" -> src("user_id"),
                    "cents" -> src("v"), "pk" -> (src("user_id") % 4)))),
                  // the feed is one op per key by construction (upd
                  // u%3=0, del u%9=4 ⊂ u%3=1 — disjoint; ins keys are
                  // fresh negatives), so the multiple-match guard's
                  // per-batch source shuffle is skipped — the
                  // CDC-apply caller owns the dedup invariant
                  sourceKeyUnique = true)
              }
              ()
            }.start()
          q.awaitTermination()
        }
        runStream(s"$base/ckpt1")
        // the at-least-once redelivery: same feed, FRESH checkpoint —
        // every batch replays with an already-recorded id and must skip
        runStream(s"$base/ckpt2")
        val out = t.read.select("event_id", "user_id", "cents", "pk")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events)
        SELECT event_id, user_id,
          CASE WHEN user_id % 3 = 0 THEN cents + 7 ELSE cents END AS cents, pk
        FROM e WHERE NOT (user_id % 9 = 4)
        UNION ALL
        SELECT -(event_id + 1) AS event_id, user_id, cents, pk
        FROM e WHERE user_id % 7 = 2""")),

    // Z-ORDER TABLE MAINTENANCE under the oracle — the 2-D data-skipping
    // story: a stored Morton key zv = zValue(user_id, cents) clusters the
    // table via compactRange, and then range scans on EITHER underlying
    // dimension prune files through their own zone maps (one clustering,
    // two pruned axes — the OPTIMIZE ... ZORDER BY promise). Both pruned
    // reads ≡ plain filters; the user_id band derives from the data.
    QuerySpec("q231_zorder_table_scan",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q231_").toString
        val ev = Tables.events(s, dir)
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("zv",
            graft.operators.Layout.zValue(col("user_id"), col("cents"), 16))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/t",
          Seq("event_id"), "pk", statsCols = Seq("user_id", "cents"))
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, zv BIGINT, pk BIGINT"))
        for (b <- 0 to 3) t.insertIfAbsent(rows.filter(col("event_id") % 4 === b))
        t.compactRange(32, Seq("zv"))
        val r = rows.agg(min("user_id"), max("user_id")).collect()(0)
        val (uLo, uHi) = (r.getLong(0), r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 8)
        val out = t.readWhereBetween("cents", 2000, 2999)
          .select(lit("c").as("dim"), col("event_id"), col("user_id"),
            col("cents"), col("pk"))
          .unionByName(t.readWhereBetween("user_id", uLo, uHi)
            .select(lit("u").as("dim"), col("event_id"), col("user_id"),
              col("cents"), col("pk")))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        r AS (SELECT min(user_id) AS lo,
                min(user_id) + (max(user_id) - min(user_id)) // 8 AS hi
              FROM e)
        SELECT 'c' AS dim, event_id, user_id, cents, pk FROM e
        WHERE cents BETWEEN 2000 AND 2999
        UNION ALL
        SELECT 'u' AS dim, e.event_id, e.user_id, e.cents, e.pk
        FROM e, r WHERE e.user_id BETWEEN r.lo AND r.hi""")),

    // ROW-LEVEL CDC under the oracle — readChangesRowsSince classifies
    // every net change between two versions with a _change_type column,
    // resolved from the manifest diff + a key join over TOUCHED files
    // only. The history exercises every class: tick 1 rewrites
    // partitions 0-1 (updates emit pre+post image, fresh keys emit
    // insert, IDENTICALLY-rewritten rows emit NOTHING), a keyed delete
    // drops partition 2 (delete), and a deletion-vector delete on
    // partition 3 (no file enters or leaves the live set) must still
    // surface its vectored rows as deletes. Untouched partitions 4-7
    // are never read and emit nothing.
    QuerySpec("q232_row_cdc",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q232_").toString
        val ev = Tables.events(s, dir)
        val us = unix_micros(col("ts"))
        def agg(e: org.apache.spark.sql.DataFrame) = e.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"))
          .withColumn("pk", col("user_id") % 8)
        val t = new graft.operators.GraftTable(s, s"$base/t", Seq("user_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, n_events BIGINT, sum_cents BIGINT, pk BIGINT"))
        t.upsertReplace(agg(ev.filter(us % 2 === 0)))
        val since = t.currentVersion
        t.upsertReplace(agg(ev.filter(col("user_id") % 8 < 2)))
        t.deleteByKeys(t.readAt(since).filter(col("pk") === 2).select("user_id"))
        t.deleteWhere(col("pk") === 3 && col("sum_cents") % 2 === 1)
        val out = t.readChangesRowsSince(since)
          .select(col("user_id"), col("n_events"), col("sum_cents"),
            col("pk"), col("_change_type"))
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        a1 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_cents,
            CAST(user_id % 8 AS BIGINT) AS pk
          FROM e WHERE us % 2 = 0 GROUP BY 1),
        a2 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_cents,
            CAST(user_id % 8 AS BIGINT) AS pk
          FROM e GROUP BY 1)
        SELECT user_id, n_events, sum_cents, pk, 'insert' AS _change_type
        FROM a2 WHERE pk < 2 AND user_id NOT IN (SELECT user_id FROM a1)
        UNION ALL
        SELECT a1.user_id, a1.n_events, a1.sum_cents, a1.pk, 'update_preimage'
        FROM a1 JOIN a2 USING (user_id)
        WHERE a1.pk < 2 AND (a1.n_events <> a2.n_events
          OR a1.sum_cents <> a2.sum_cents)
        UNION ALL
        SELECT a2.user_id, a2.n_events, a2.sum_cents, a2.pk, 'update_postimage'
        FROM a1 JOIN a2 USING (user_id)
        WHERE a1.pk < 2 AND (a1.n_events <> a2.n_events
          OR a1.sum_cents <> a2.sum_cents)
        UNION ALL
        SELECT user_id, n_events, sum_cents, pk, 'delete' FROM a1 WHERE pk = 2
        UNION ALL
        SELECT user_id, n_events, sum_cents, pk, 'delete' FROM a1
        WHERE pk = 3 AND sum_cents % 2 = 1""")),

    // SQL-ADDRESSABLE TABLE under the oracle — the DSv2 catalog
    // (graft.sources.GraftCatalog): the whole query text is pure
    // spark.sql against a registered table name. Branch 1 is a
    // zone-map-banded range scan (the readWhereBetween machinery
    // applied as FILE PRUNING inside the parquet scan — plan-asserted
    // in GraftCatalogSpec); branch 2 is VERSION AS OF time travel to
    // the pre-tick-2 state. The two insert ticks are key-disjoint
    // (event_id parity), so the replay is exact even with duplicate
    // source ids.
    QuerySpec("q233_sql_catalog",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q233_").toString
        val ev = Tables.events(s, dir)
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("pk", col("user_id") % 4)
        val t = new graft.operators.GraftTable(s, s"$base/db/events",
          Seq("event_id"), "pk", statsCols = Seq("cents"))
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT"))
        t.insertIfAbsent(rows.filter(col("event_id") % 2 === 0))
        val v1 = t.currentVersion
        t.insertIfAbsent(rows)
        t.compactRange(16, Seq("cents"))
        graft.operators.GraftTableMeta.annotate(t)
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        val out = s.sql(s"""
          SELECT 'band' AS dim, event_id, user_id, cents, pk
          FROM $cat.db.events WHERE cents BETWEEN 2000 AND 2999
          UNION ALL
          SELECT 'v1' AS dim, event_id, user_id, cents, pk
          FROM $cat.db.events VERSION AS OF $v1 WHERE user_id % 4 = 1""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events)
        SELECT 'band' AS dim, event_id, user_id, cents, pk FROM e
        WHERE cents BETWEEN 2000 AND 2999
        UNION ALL
        SELECT 'v1' AS dim, event_id, user_id, cents, pk FROM e
        WHERE event_id % 2 = 0 AND user_id % 4 = 1""")),

    // STREAMING TABLE SOURCE under the oracle — readStream.table over
    // the registered catalog table, offsets = commit versions. Run 1
    // (fresh checkpoint) drains the FULL SNAPSHOT of the table as of
    // stream start; the stream stops, three more upsert ticks commit;
    // run 2 recovers from the checkpoint and drains ONLY the manifest
    // diff (the post-state of the partitions ticks 3-5 touched — the
    // exactly-once incremental consumer loop, reference runetl.py:39-66
    // generalized). Untouched partitions are never re-emitted (their
    // absence from run 2 is part of the hash).
    QuerySpec("q234_table_stream",
      (s, dir) => {
        GraftSession.tune(s)
        import s.implicits._
        val base = java.nio.file.Files.createTempDirectory("graft_q234_").toString
        val ev = Tables.events(s, dir)
        val us = unix_micros(col("ts"))
        def agg(e: org.apache.spark.sql.DataFrame) = e.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"))
          .withColumn("pk", col("user_id") % 8)
        val t = new graft.operators.GraftTable(s, s"$base/db/ua",
          Seq("user_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, n_events BIGINT, sum_cents BIGINT, pk BIGINT"))
        t.upsertReplace(agg(ev.filter(us % 2 === 0)))
        t.upsertReplace(agg(ev).filter(col("pk") < 2))
        graft.operators.GraftTableMeta.annotate(t)
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_q234_ck").toString
        def drain(run: String): Seq[(String, Long, Long, Long, Long)] = {
          val acc = new java.util.concurrent.ConcurrentLinkedQueue[
            (String, Long, Long, Long, Long)]()
          val q = s.readStream.table(s"$cat.db.ua").writeStream
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)
            // VERIFICATION-HARNESS drain only (not a library operator):
            // the collect is bounded by the AGGREGATE's size at sandbox
            // SF — a production consumer would sink the batch, not
            // collect it
            .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
              df.select("user_id", "n_events", "sum_cents", "pk").collect()
                .foreach(r => acc.add((run, r.getLong(0), r.getLong(1),
                  r.getLong(2), r.getLong(3)))); ()
            }
            .start()
          require(q.awaitTermination(300000),
            "q234 stream drain timed out — partial batch would corrupt the result")
          scala.jdk.CollectionConverters.CollectionHasAsScala(acc).asScala.toSeq
        }
        val run1 = drain("snapshot")
        // three commits while the stream is down
        t.upsertReplace(agg(ev).filter(col("pk") === 2))
        t.upsertReplace(agg(ev).filter(col("pk") === 3))
        t.upsertReplace(agg(ev).filter(col("pk") === 4)
          .withColumn("n_events", col("n_events") + 100))
        val run2 = drain("diff")
        graft.operators.Fs.deleteTree(base)
        graft.operators.Fs.deleteTree(ckpt)
        (run1 ++ run2).toDF("run", "user_id", "n_events", "sum_cents", "pk")
          .localCheckpoint(true)
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        a1 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_cents,
            CAST(user_id % 8 AS BIGINT) AS pk
          FROM e WHERE us % 2 = 0 GROUP BY 1),
        a2 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_cents,
            CAST(user_id % 8 AS BIGINT) AS pk
          FROM e GROUP BY 1)
        SELECT 'snapshot' AS run, user_id, n_events, sum_cents, pk
        FROM a2 WHERE pk < 2
        UNION ALL
        SELECT 'snapshot' AS run, user_id, n_events, sum_cents, pk
        FROM a1 WHERE pk >= 2
        UNION ALL
        SELECT 'diff' AS run, user_id, n_events, sum_cents, pk
        FROM a2 WHERE pk IN (2, 3)
        UNION ALL
        SELECT 'diff' AS run, user_id, n_events + 100, sum_cents, pk
        FROM a2 WHERE pk = 4""")),

    // PURE-SQL WRITE LIFECYCLE under the oracle — every statement is
    // spark.sql text against the catalog: CREATE TABLE (DDL with keys/
    // statsCols properties), two INSERT INTO ... SELECT ticks
    // (event-parity disjoint, so raw-row replay is exact), a DELETE
    // FROM with a compound predicate (partition rewrite — the table
    // stays SQL-scannable), and a final banded SELECT whose range
    // predicate rides the zone-map file pruning. The reference user's
    // whole loop — create, load, correct, query — without one line of
    // library code.
    QuerySpec("q236_sql_write_lifecycle",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q236_").toString
        Tables.events(s, dir).createOrReplaceTempView("q236_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ev (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q236_events WHERE event_id % 2 = 0""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q236_events WHERE event_id % 2 = 1""")
        s.sql(s"DELETE FROM $cat.db.ev WHERE cents < 1000 AND pk = 2")
        val out = s.sql(s"""SELECT event_id, user_id, cents, pk
          FROM $cat.db.ev WHERE cents BETWEEN 0 AND 4999""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events)
        SELECT event_id, user_id, cents, pk FROM e
        WHERE NOT (cents < 1000 AND pk = 2)
          AND cents BETWEEN 0 AND 4999""")),

    // STREAMING PIPELINE CAPSTONE — the reference's whole consumer loop
    // (runetl.py:39-66) catalog-native end to end: a keyed SOURCE table
    // is tailed by readStream.table (offsets = commit versions, each
    // batch = the manifest diff), and a DOWNSTREAM aggregate table is
    // maintained in foreachBatch via the exactly-once txn-marked sink
    // (upsertReplaceBatch). Run 1 drains the seeded snapshot; two more
    // source ticks land while the stream is down; run 2 recovers from
    // the checkpoint and refreshes ONLY the touched partitions' rows.
    // A third run through a FRESH checkpoint then redelivers from
    // scratch: its batch ids restart at 0, at-or-below the recorded
    // (app, batchId) state, so the sink SKIPS them — replace-semantics
    // refresh is idempotent by design, and the txn marker makes the
    // replay free instead of re-running it. Replaces q209's hand-wired
    // refresh(since) loop with the engine-native stream.
    QuerySpec("q237_stream_pipeline",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q237_").toString
        val ev = Tables.events(s, dir)
        val us = unix_micros(col("ts"))
        val rows = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          (col("user_id") % 8).as("pk"), us.as("us"))
        val src = new graft.operators.GraftTable(s, s"$base/db/src",
          Seq("event_id"), "pk")
        src.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT, us BIGINT"))
        graft.operators.GraftTableMeta.annotate(src)
        val down = new graft.operators.GraftTable(s, s"$base/db/down",
          Seq("pk"), "pk")
        down.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "pk BIGINT, n_events BIGINT, sum_cents BIGINT"))
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        def drain(ckpt: String): Unit = {
          val q = s.readStream.table(s"$cat.db.src").writeStream
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)
            .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
              down.upsertReplaceBatch("q237", batchId,
                df.groupBy(col("pk")).agg(count(lit(1)).as("n_events"),
                  sum(col("cents")).as("sum_cents"))
                  .select("pk", "n_events", "sum_cents"))
              ()
            }
            .start()
          require(q.awaitTermination(300000),
            "q237 stream drain timed out — partial batch would corrupt the result")
          ()
        }
        val ckpt1 = s"$base/ckpt1"
        src.upsertReplace(rows.filter(col("us") % 2 === 0).drop("us"))
        drain(ckpt1) // snapshot batch refreshes every seeded partition
        src.upsertReplace(rows.filter(col("us") % 2 === 1 &&
          col("user_id") % 8 < 3).drop("us"))
        src.upsertReplace(rows.filter(col("us") % 2 === 1 &&
          col("user_id") % 8 === 5).drop("us"))
        drain(ckpt1) // recovery: only the pk<3 and pk=5 diffs arrive
        // full redelivery through a fresh checkpoint: batch ids restart
        // at 0 ≤ the recorded txn state → the sink skips the replayed
        // work (and replace-semantics refresh would land identically
        // even if applied — exactly-once here is a cost guarantee)
        drain(s"$base/ckpt2")
        val out = down.read.select("pk", "n_events", "sum_cents")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        pick AS (
          SELECT * FROM e WHERE us % 2 = 0
          UNION ALL
          SELECT * FROM e WHERE us % 2 = 1 AND (user_id % 8 < 3 OR user_id % 8 = 5))
        SELECT CAST(user_id % 8 AS BIGINT) AS pk,
          CAST(count(*) AS BIGINT) AS n_events,
          CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM pick GROUP BY 1""")),

    // SQL MERGE INTO — the reference's core write semantic (keyed
    // upsert-merge, storage/azurestoragewrapper.py:237-258) as ONE SQL
    // statement, all FOUR clause families in a single atomic commit:
    // conditional DELETE, ordered UPDATE (first-hit-wins), conditional
    // INSERT, and WHEN NOT MATCHED BY SOURCE. Planned by
    // GraftRowLevelSqlStrategy onto GraftTable.merge's clause ladder,
    // so only partitions holding a claimed row rewrite. The oracle
    // replays the statement as a relational state diff (DuckDB has no
    // MERGE): matched rows via join, by-source rows via anti-join,
    // inserts via anti-join the other way. Source is key-unique by
    // GROUP BY (the ANSI multiple-match precondition); the target keeps
    // raw duplicate event_ids — every copy of a matched key updates,
    // the ANSI 1:N target side.
    QuerySpec("q239_sql_merge",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q239_").toString
        Tables.events(s, dir).createOrReplaceTempView("q239_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.m (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.m (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q239_events WHERE event_id % 2 = 0""")
        s.sql("""CREATE OR REPLACE TEMP VIEW q239_src AS
          SELECT event_id, CAST(max(user_id) AS BIGINT) AS user_id,
            CAST(max(CAST(round(value * 100) AS BIGINT)) + 17 AS BIGINT) AS cents,
            CAST(max(user_id) % 4 AS BIGINT) AS pk
          FROM q239_events WHERE event_id % 3 = 0 GROUP BY event_id""")
        s.sql(s"""MERGE INTO $cat.db.m t USING q239_src s
          ON t.event_id = s.event_id
          WHEN MATCHED AND s.cents < 2000 THEN DELETE
          WHEN MATCHED THEN UPDATE SET cents = s.cents, user_id = s.user_id
          WHEN NOT MATCHED AND s.pk <> 3 THEN
            INSERT (event_id, user_id, cents, pk)
            VALUES (s.event_id, s.user_id, s.cents, s.pk)
          WHEN NOT MATCHED BY SOURCE AND t.cents > 9000 THEN
            UPDATE SET cents = t.cents - 9000""")
        val out = s.sql(s"SELECT event_id, user_id, cents, pk FROM $cat.db.m")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        tgt AS (SELECT * FROM e WHERE event_id % 2 = 0),
        src AS (
          SELECT event_id, CAST(max(user_id) AS BIGINT) AS user_id,
            CAST(max(cents) + 17 AS BIGINT) AS cents,
            CAST(max(user_id) % 4 AS BIGINT) AS pk
          FROM e WHERE event_id % 3 = 0 GROUP BY event_id),
        matched AS (
          SELECT t.event_id, s.user_id AS s_user, s.cents AS s_cents,
            t.user_id, t.cents, t.pk
          FROM tgt t JOIN src s ON t.event_id = s.event_id),
        upd AS (
          SELECT event_id, s_user AS user_id, s_cents AS cents, pk
          FROM matched WHERE s_cents >= 2000),
        by_source AS (
          SELECT t.event_id, t.user_id,
            CASE WHEN t.cents > 9000 THEN t.cents - 9000 ELSE t.cents END AS cents,
            t.pk
          FROM tgt t
          WHERE t.event_id NOT IN (SELECT event_id FROM src)),
        ins AS (
          SELECT s.event_id, s.user_id, s.cents, s.pk FROM src s
          WHERE s.event_id NOT IN (SELECT event_id FROM tgt) AND s.pk <> 3)
        SELECT event_id, user_id, cents, pk FROM upd
        UNION ALL SELECT event_id, user_id, cents, pk FROM by_source
        UNION ALL SELECT event_id, user_id, cents, pk FROM ins""")),

    // SQL UPDATE — predicate update as one statement, incl. a second
    // PARTITION-MOVING update (SET pk = …): matching rows relocate to
    // their new partition, untouched partitions keep their files.
    // Both statements plan through GraftRowLevelSqlStrategy onto
    // GraftTable.updateWhere (touched-partition rewrite, no-match =
    // no commit). Oracle: two stacked CASE projections.
    QuerySpec("q240_sql_update",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q240_").toString
        Tables.events(s, dir).createOrReplaceTempView("q240_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.u (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.u (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q240_events WHERE event_id % 2 = 0""")
        s.sql(s"""UPDATE $cat.db.u SET cents = cents * 2, user_id = user_id + 1
          WHERE cents BETWEEN 1000 AND 4999 AND pk <> 2""")
        s.sql(s"UPDATE $cat.db.u SET pk = (pk + 1) % 4 WHERE cents < 500")
        val out = s.sql(s"SELECT event_id, user_id, cents, pk FROM $cat.db.u")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events WHERE event_id % 2 = 0),
        u1 AS (
          SELECT event_id,
            CASE WHEN cents BETWEEN 1000 AND 4999 AND pk <> 2
              THEN user_id + 1 ELSE user_id END AS user_id,
            CASE WHEN cents BETWEEN 1000 AND 4999 AND pk <> 2
              THEN cents * 2 ELSE cents END AS cents,
            pk
          FROM e)
        SELECT event_id, user_id, cents,
          CASE WHEN cents < 500 THEN (pk + 1) % 4 ELSE pk END AS pk
        FROM u1""")),

    // DV-TOLERANT SQL READS: two row-level deleteWhere commits land as
    // deletion vectors (zero files rewritten), and the table STAYS pure-
    // SQL-readable — the scan subtracts the vectors in-flight
    // (GraftDvBatch: DV'd files re-read whole + position-filtered,
    // clean files keep the pushed-filter read). The SELECT carries a
    // range predicate, so residual filter re-evaluation over the
    // unpushed DV reads is under the oracle too; a second SELECT with
    // VERSION AS OF pins the pre-delete state through the same SQL
    // path. Delta serves DVs in SQL; so do we.
    QuerySpec("q241_sql_dv_read",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q241_").toString
        Tables.events(s, dir).createOrReplaceTempView("q241_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.dv (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.dv (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q241_events""")
        val gt = graft.operators.GraftTableMeta.open(s, s"$base/db/dv").get
        val v0 = gt.currentVersion
        gt.deleteWhere(col("cents") % 7 === 3)  // DV commit 1
        gt.deleteWhere(col("user_id") % 5 === 0 && col("cents") > 5000) // DV commit 2
        val live = s.sql(s"""SELECT event_id, user_id, cents, pk
          FROM $cat.db.dv WHERE cents BETWEEN 100 AND 8999""")
        val before = s.sql(s"""SELECT CAST(count(*) AS BIGINT) AS n_before
          FROM $cat.db.dv VERSION AS OF $v0""")
        val out = live.crossJoin(before)
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        kept AS (
          SELECT * FROM e
          WHERE NOT (cents % 7 = 3)
            AND NOT (user_id % 5 = 0 AND cents > 5000))
        SELECT event_id, user_id, cents, pk,
          (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_before
        FROM kept WHERE cents BETWEEN 100 AND 8999""")),

    // CDC-MODE STREAMING under the oracle — the q232 mutation history
    // (partition rewrites → update pre/post images + inserts, a keyed
    // partition-dropping delete, a deletion-vector delete) consumed
    // through the catalog's `__changes` STREAM instead of the batch
    // API: run 1 drains the seeded snapshot as 'insert' rows (the Delta
    // CDF convention), the three commits land while the stream is DOWN,
    // and run 2 recovers from the checkpoint and emits exactly the net
    // row-level change feed of the range — including the delete-only
    // and DV commits the file-diff stream refuses. Oracle = snapshot
    // rows + the q232 state-diff replay.
    QuerySpec("q242_cdc_stream",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q242_").toString
        val ev = Tables.events(s, dir)
        val us = unix_micros(col("ts"))
        def agg(e: org.apache.spark.sql.DataFrame) = e.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"))
          .withColumn("pk", col("user_id") % 8)
        val t = new graft.operators.GraftTable(s, s"$base/db/agg",
          Seq("user_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, n_events BIGINT, sum_cents BIGINT, pk BIGINT"))
        graft.operators.GraftTableMeta.annotate(t)
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        val acc = new java.util.concurrent.ConcurrentLinkedQueue[
          (String, Long, Long, Long, Long, String)]()
        def drain(run: String): Unit = {
          val q = s.readStream.table(s"$cat.db.agg__changes").writeStream
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", s"$base/ckpt")
            // VERIFICATION-HARNESS drain only (not a library operator):
            // the collect is bounded by the CHANGE FEED's size at
            // sandbox SF — a production consumer would sink the batch
            .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
              df.select("user_id", "n_events", "sum_cents", "pk", "_change_type")
                .collect().foreach(r => acc.add((run, r.getLong(0), r.getLong(1),
                  r.getLong(2), r.getLong(3), r.getString(4))))
              ()
            }
            .start()
          require(q.awaitTermination(300000),
            "q242 stream drain timed out — partial batch would corrupt the result")
          ()
        }
        t.upsertReplace(agg(ev.filter(us % 2 === 0)))
        drain("snap") // snapshot-as-inserts
        val since = t.currentVersion
        t.upsertReplace(agg(ev.filter(col("user_id") % 8 < 2)))
        t.deleteByKeys(t.readAt(since).filter(col("pk") === 2).select("user_id"))
        t.deleteWhere(col("pk") === 3 && col("sum_cents") % 2 === 1)
        drain("diff") // recovery drains exactly the change feed
        import scala.jdk.CollectionConverters._
        import s.implicits._
        val out = acc.asScala.toSeq
          .toDF("run", "user_id", "n_events", "sum_cents", "pk", "_change_type")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        a1 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_cents,
            CAST(user_id % 8 AS BIGINT) AS pk
          FROM e WHERE us % 2 = 0 GROUP BY 1),
        a2 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_cents,
            CAST(user_id % 8 AS BIGINT) AS pk
          FROM e GROUP BY 1)
        SELECT 'snap' AS run, user_id, n_events, sum_cents, pk,
          'insert' AS _change_type FROM a1
        UNION ALL
        SELECT 'diff', user_id, n_events, sum_cents, pk, 'insert'
        FROM a2 WHERE pk < 2 AND user_id NOT IN (SELECT user_id FROM a1)
        UNION ALL
        SELECT 'diff', a1.user_id, a1.n_events, a1.sum_cents, a1.pk,
          'update_preimage'
        FROM a1 JOIN a2 USING (user_id)
        WHERE a1.pk < 2 AND (a1.n_events <> a2.n_events
          OR a1.sum_cents <> a2.sum_cents)
        UNION ALL
        SELECT 'diff', a2.user_id, a2.n_events, a2.sum_cents, a2.pk,
          'update_postimage'
        FROM a1 JOIN a2 USING (user_id)
        WHERE a1.pk < 2 AND (a1.n_events <> a2.n_events
          OR a1.sum_cents <> a2.sum_cents)
        UNION ALL
        SELECT 'diff', user_id, n_events, sum_cents, pk, 'delete'
        FROM a1 WHERE pk = 2
        UNION ALL
        SELECT 'diff', user_id, n_events, sum_cents, pk, 'delete'
        FROM a1 WHERE pk = 3 AND sum_cents % 2 = 1""")),

    // UNPARTITIONED TABLE, full SQL lifecycle — CREATE TABLE without
    // PARTITIONED BY gets ONE synthetic partition (a hidden derived
    // __gp column every write maintains; the catalog hides it from the
    // schema): the first-touch DDL shape a new user types, carried
    // through INSERT ticks, predicate UPDATE, DELETE FROM, and a keyed
    // MERGE — all pure SQL text, all on the same single-partition
    // manifest machinery. Oracle: the statement sequence replayed as
    // stacked relational transforms.
    QuerySpec("q243_sql_unpartitioned",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q243_").toString
        Tables.events(s, dir).createOrReplaceTempView("q243_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.flat (
            event_id BIGINT, user_id BIGINT, cents BIGINT)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.flat (event_id, user_id, cents)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT)
          FROM q243_events WHERE event_id % 2 = 0""")
        s.sql(s"""INSERT INTO $cat.db.flat (event_id, user_id, cents)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT)
          FROM q243_events WHERE event_id % 2 = 1""")
        s.sql(s"UPDATE $cat.db.flat SET cents = cents + 5 WHERE user_id % 3 = 0")
        s.sql(s"DELETE FROM $cat.db.flat WHERE cents < 200")
        s.sql("""CREATE OR REPLACE TEMP VIEW q243_src AS
          SELECT event_id, CAST(max(user_id) AS BIGINT) AS user_id,
            CAST(9999 AS BIGINT) AS cents
          FROM q243_events WHERE event_id % 11 = 0 GROUP BY event_id""")
        s.sql(s"""MERGE INTO $cat.db.flat t USING q243_src s
          ON t.event_id = s.event_id
          WHEN MATCHED THEN UPDATE SET cents = s.cents
          WHEN NOT MATCHED THEN INSERT (event_id, user_id, cents)
            VALUES (s.event_id, s.user_id, s.cents)""")
        val out = s.sql(s"SELECT event_id, user_id, cents FROM $cat.db.flat")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        u1 AS (
          SELECT event_id, user_id,
            CASE WHEN user_id % 3 = 0 THEN cents + 5 ELSE cents END AS cents
          FROM e),
        d1 AS (SELECT * FROM u1 WHERE cents >= 200),
        src AS (
          SELECT event_id, CAST(max(user_id) AS BIGINT) AS user_id,
            CAST(9999 AS BIGINT) AS cents
          FROM e WHERE event_id % 11 = 0 GROUP BY event_id)
        SELECT t.event_id, t.user_id,
          CASE WHEN s.event_id IS NOT NULL THEN s.cents ELSE t.cents END AS cents
        FROM d1 t LEFT JOIN src s ON t.event_id = s.event_id
        UNION ALL
        SELECT s.event_id, s.user_id, s.cents FROM src s
        WHERE s.event_id NOT IN (SELECT event_id FROM d1)""")),

    // BATCH CHANGE FEED AS SQL — `SELECT … FROM t__changes VERSION AS
    // OF v` is the Delta `table_changes(t, v)` semantic on the catalog:
    // the q232 mutation history (partition rewrites → update pre/post
    // images + inserts, a keyed partition-dropping delete, a deletion-
    // vector delete) read back as ONE SQL statement over the anchored
    // changes table. Same oracle as q232 — the SQL path must be
    // bit-identical to readChangesRowsSince.
    QuerySpec("q244_sql_changes",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q244_").toString
        val ev = Tables.events(s, dir)
        val us = unix_micros(col("ts"))
        def agg(e: org.apache.spark.sql.DataFrame) = e.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"))
          .withColumn("pk", col("user_id") % 8)
        val t = new graft.operators.GraftTable(s, s"$base/db/agg",
          Seq("user_id"), "pk")
        t.createIfNotExists(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, n_events BIGINT, sum_cents BIGINT, pk BIGINT"))
        graft.operators.GraftTableMeta.annotate(t)
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        t.upsertReplace(agg(ev.filter(us % 2 === 0)))
        val since = t.currentVersion
        t.upsertReplace(agg(ev.filter(col("user_id") % 8 < 2)))
        t.deleteByKeys(t.readAt(since).filter(col("pk") === 2).select("user_id"))
        t.deleteWhere(col("pk") === 3 && col("sum_cents") % 2 === 1)
        val out = s.sql(s"""SELECT user_id, n_events, sum_cents, pk,
            _change_type
          FROM $cat.db.agg__changes VERSION AS OF $since""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        a1 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_cents,
            CAST(user_id % 8 AS BIGINT) AS pk
          FROM e WHERE us % 2 = 0 GROUP BY 1),
        a2 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_cents,
            CAST(user_id % 8 AS BIGINT) AS pk
          FROM e GROUP BY 1)
        SELECT user_id, n_events, sum_cents, pk, 'insert' AS _change_type
        FROM a2 WHERE pk < 2 AND user_id NOT IN (SELECT user_id FROM a1)
        UNION ALL
        SELECT a1.user_id, a1.n_events, a1.sum_cents, a1.pk, 'update_preimage'
        FROM a1 JOIN a2 USING (user_id)
        WHERE a1.pk < 2 AND (a1.n_events <> a2.n_events
          OR a1.sum_cents <> a2.sum_cents)
        UNION ALL
        SELECT a2.user_id, a2.n_events, a2.sum_cents, a2.pk, 'update_postimage'
        FROM a1 JOIN a2 USING (user_id)
        WHERE a1.pk < 2 AND (a1.n_events <> a2.n_events
          OR a1.sum_cents <> a2.sum_cents)
        UNION ALL
        SELECT user_id, n_events, sum_cents, pk, 'delete' FROM a1 WHERE pk = 2
        UNION ALL
        SELECT user_id, n_events, sum_cents, pk, 'delete' FROM a1
        WHERE pk = 3 AND sum_cents % 2 = 1""")),

    // CDC PIPELINE CAPSTONE — the reference consumer loop with ROW-
    // LEVEL DELETES end to end: a keyed source table's `__changes`
    // STREAM (q242's feed) maintains a downstream REPLICA through the
    // exactly-once mergeBatch sink — postimages/inserts upsert, delete
    // rows DELETE (the clause the file-diff stream fundamentally cannot
    // drive). Run 1 applies the snapshot-as-inserts; the q232 mutation
    // history (rewrites + keyed partition delete + DV delete) lands
    // while the stream is down; run 2 recovers and applies the net
    // change batch; a third run through a FRESH checkpoint redelivers
    // from scratch and the (app, batchId) txn state SKIPS it — the
    // replica survives at-least-once redelivery with a NON-idempotent
    // clause ladder. Oracle: the replica must equal the source's final
    // state, replayed relationally.
    QuerySpec("q245_cdc_pipeline",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q245_").toString
        val ev = Tables.events(s, dir)
        val us = unix_micros(col("ts"))
        def agg(e: org.apache.spark.sql.DataFrame) = e.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"))
          .withColumn("pk", col("user_id") % 8)
        val ddl = org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, n_events BIGINT, sum_cents BIGINT, pk BIGINT")
        val src = new graft.operators.GraftTable(s, s"$base/db/src",
          Seq("user_id"), "pk")
        src.createIfNotExists(ddl)
        graft.operators.GraftTableMeta.annotate(src)
        val down = new graft.operators.GraftTable(s, s"$base/db/down",
          Seq("user_id"), "pk")
        down.createIfNotExists(ddl)
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        import graft.operators.GraftTable.{MatchedDelete, MatchedUpdate, src => S}
        def drain(ckpt: String): Unit = {
          val q = s.readStream.table(s"$cat.db.src__changes").writeStream
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)
            .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
              down.mergeBatch("q245", batchId,
                df.filter(col("_change_type") =!= "update_preimage"),
                matched = Seq(
                  MatchedDelete(S("_change_type") === "delete"),
                  MatchedUpdate(lit(true), Map(
                    "n_events" -> S("n_events"), "sum_cents" -> S("sum_cents"),
                    "pk" -> S("pk")))),
                notMatchedInsert = Some((S("_change_type") =!= "delete", Map(
                  "user_id" -> S("user_id"), "n_events" -> S("n_events"),
                  "sum_cents" -> S("sum_cents"), "pk" -> S("pk")))))
              ()
            }
            .start()
          require(q.awaitTermination(300000),
            "q245 stream drain timed out — partial batch would corrupt the result")
          ()
        }
        src.upsertReplace(agg(ev.filter(us % 2 === 0)))
        drain(s"$base/ckpt1") // snapshot-as-inserts seeds the replica
        val since = src.currentVersion
        src.upsertReplace(agg(ev.filter(col("user_id") % 8 < 2)))
        src.deleteByKeys(src.readAt(since).filter(col("pk") === 2).select("user_id"))
        src.deleteWhere(col("pk") === 3 && col("sum_cents") % 2 === 1)
        drain(s"$base/ckpt1") // recovery applies the net change batch
        drain(s"$base/ckpt2") // full redelivery — txn state skips it
        val out = down.read.select("user_id", "n_events", "sum_cents", "pk")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        a1 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_cents,
            CAST(user_id % 8 AS BIGINT) AS pk
          FROM e WHERE us % 2 = 0 GROUP BY 1),
        a2 AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(cents) AS BIGINT) AS sum_cents,
            CAST(user_id % 8 AS BIGINT) AS pk
          FROM e GROUP BY 1)
        SELECT user_id, n_events, sum_cents, pk FROM a2 WHERE pk < 2
        UNION ALL
        SELECT user_id, n_events, sum_cents, pk FROM a1
        WHERE pk >= 3 AND NOT (pk = 3 AND sum_cents % 2 = 1)""")),

    // SQL DELETE WITH AN IN SUBQUERY (round 10): `DELETE FROM t WHERE
    // k IN (SELECT …) AND <residual>` — the statement the plain
    // SupportsDeleteV2 path cannot translate to source filters.
    // GraftRowLevelSqlStrategy claims the DeleteFromTable command,
    // materializes the uncorrelated subquery ONCE, and routes to
    // GraftTable.deleteWhereIn: the membership test runs as a
    // DISTRIBUTED semi-join (never a collected IN list), the residual
    // prunes the discovery scan through the cents zone maps, and the
    // commit is the same O(matched-rows) deletion vector as any
    // selective SQL DELETE — the post-delete SELECT reads through the
    // DV-tolerant scan. Oracle: replay the delete as a filter (DuckDB).
    QuerySpec("q246_sql_delete_subquery",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q246_").toString
        Tables.events(s, dir).createOrReplaceTempView("q246_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.d (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.d (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q246_events WHERE event_id % 2 = 0""")
        s.sql("""CREATE OR REPLACE TEMP VIEW q246_del AS
          SELECT event_id FROM q246_events WHERE event_id % 5 = 0""")
        s.sql(s"""DELETE FROM $cat.db.d
          WHERE event_id IN (SELECT event_id FROM q246_del)
            AND cents >= 1000""")
        val out = s.sql(s"SELECT event_id, user_id, cents, pk FROM $cat.db.d")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        tgt AS (SELECT * FROM e WHERE event_id % 2 = 0),
        del AS (SELECT DISTINCT event_id FROM e WHERE event_id % 5 = 0)
        SELECT event_id, user_id, cents, pk FROM tgt
        WHERE NOT (cents >= 1000 AND
          event_id IN (SELECT event_id FROM del))""")),

    // SQL MERGE WITH A NON-KEY ON RESIDUAL (round 10; ANSI-true since
    // round 11): `ON t.k = s.k AND t.cents >= 500` — the common ANSI
    // composite ON. MATCHED = key equality AND residual
    // (GraftTable.merge onResidual): a key match failing the residual
    // is NOT matched — its target row keeps its files AND its source
    // row becomes a WHEN NOT MATCHED insert candidate, exactly
    // Spark/Delta's classification. Oracle: left join with the
    // residual in the CASE; inserts anti-join on (key AND residual) —
    // a residual-failing source row lands NEXT TO its target row.
    QuerySpec("q247_sql_merge_residual",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q247_").toString
        Tables.events(s, dir).createOrReplaceTempView("q247_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.m (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.m (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q247_events WHERE event_id % 2 = 0""")
        s.sql("""CREATE OR REPLACE TEMP VIEW q247_src AS
          SELECT event_id, CAST(max(user_id) AS BIGINT) AS user_id,
            CAST(max(CAST(round(value * 100) AS BIGINT)) + 17 AS BIGINT) AS cents,
            CAST(max(user_id) % 4 AS BIGINT) AS pk
          FROM q247_events WHERE event_id % 3 = 0 GROUP BY event_id""")
        s.sql(s"""MERGE INTO $cat.db.m t USING q247_src s
          ON t.event_id = s.event_id AND t.cents >= 500
          WHEN MATCHED THEN UPDATE SET cents = s.cents, user_id = s.user_id
          WHEN NOT MATCHED THEN
            INSERT (event_id, user_id, cents, pk)
            VALUES (s.event_id, s.user_id, s.cents, s.pk)""")
        val out = s.sql(s"SELECT event_id, user_id, cents, pk FROM $cat.db.m")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        tgt AS (SELECT * FROM e WHERE event_id % 2 = 0),
        src AS (
          SELECT event_id, CAST(max(user_id) AS BIGINT) AS user_id,
            CAST(max(cents) + 17 AS BIGINT) AS cents,
            CAST(max(user_id) % 4 AS BIGINT) AS pk
          FROM e WHERE event_id % 3 = 0 GROUP BY event_id)
        SELECT t.event_id,
          CASE WHEN s.event_id IS NOT NULL AND t.cents >= 500
            THEN s.user_id ELSE t.user_id END AS user_id,
          CASE WHEN s.event_id IS NOT NULL AND t.cents >= 500
            THEN s.cents ELSE t.cents END AS cents,
          t.pk
        FROM tgt t LEFT JOIN src s ON t.event_id = s.event_id
        UNION ALL
        SELECT s.event_id, s.user_id, s.cents, s.pk FROM src s
        WHERE NOT EXISTS (SELECT 1 FROM tgt t
          WHERE t.event_id = s.event_id AND t.cents >= 500)""")),

    // DESCRIBE HISTORY AS SQL (round 10): `SELECT … FROM t__history` —
    // the `__history` metadata table (GraftHistoryTable, a LocalScan:
    // version-count-bounded, zero data files touched, no distributed
    // job). The query drives a fixed mutation ladder — CREATE, INSERT,
    // DV DELETE, partition-scoped UPDATE, TRUNCATE — whose history
    // shape (version, kind, partition drops, marker kinds) is
    // MECHANISM-determined, identical at every SF; the commit clock
    // and file counts are host-dependent and stay out of the output.
    // Oracle: the expected ledger as literal rows.
    QuerySpec("q248_sql_history",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q248_").toString
        Tables.events(s, dir).createOrReplaceTempView("q248_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.h (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.h (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q248_events""")
        s.sql(s"DELETE FROM $cat.db.h WHERE cents < 200")    // DV commit
        s.sql(s"UPDATE $cat.db.h SET user_id = user_id + 1 WHERE pk = 2")
        s.sql(s"TRUNCATE TABLE $cat.db.h")
        val out = s.sql(s"""SELECT version, kind,
            CAST(partitions_dropped AS BIGINT) AS pdrops,
            array_join(markers, ',') AS marks
          FROM $cat.db.h__history""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'base',  CAST(0 AS BIGINT), ''),
          (CAST(2 AS BIGINT), 'delta', CAST(0 AS BIGINT), ''),
          (CAST(3 AS BIGINT), 'delta', CAST(0 AS BIGINT), 'dv'),
          (CAST(4 AS BIGINT), 'delta', CAST(1 AS BIGINT), ''),
          (CAST(5 AS BIGINT), 'delta', CAST(4 AS BIGINT), '')
        ) AS t(version, kind, pdrops, marks)""")),

    // SQL MAINTENANCE STATEMENTS (round 10): `CALL graft.system.…` —
    // the Iceberg stored-procedure idiom over Spark 4's native
    // ProcedureCatalog (analyzer-resolved, named/default args, SHOW
    // PROCEDURES). The ladder exercises RESTORE's semantics under the
    // oracle (a mis-restore leaves the UPDATE visible and breaks the
    // hash), a DV DELETE followed by CALL compact_dv (vectors purged,
    // columnar scan back) and CALL vacuum (history reclaim must not
    // change the data). Oracle: replay — the restored-away UPDATE
    // never happened; the DV delete is a filter.
    QuerySpec("q249_sql_call_maintenance",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q249_").toString
        Tables.events(s, dir).createOrReplaceTempView("q249_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.m (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.m (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q249_events WHERE event_id % 2 = 0""") // v2
        s.sql(s"UPDATE $cat.db.m SET cents = cents * 2 WHERE pk = 1") // v3
        s.sql(s"CALL $cat.system.restore('db.m', 2)") // the UPDATE un-happens
        s.sql(s"DELETE FROM $cat.db.m WHERE cents < 500") // DV commit
        s.sql(s"CALL $cat.system.compact_dv('db.m', max_fraction => 0.0)")
        s.sql(s"CALL $cat.system.vacuum('db.m', keep_versions => 2)")
        val out = s.sql(s"SELECT event_id, user_id, cents, pk FROM $cat.db.m")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events)
        SELECT event_id, user_id, cents, pk FROM e
        WHERE event_id % 2 = 0 AND cents >= 500""")),

    // SQL DELETE WITH NOT IN / EXISTS / NOT EXISTS SUBQUERIES
    // (round 11): the remaining first-month DML subquery shapes.
    // GraftRowLevelSqlStrategy claims each DeleteFromTable; NOT IN runs
    // as a null-aware hash anti-join (SQL three-valued semantics — the
    // edges decided by one small aggregate of the subquery, never a
    // nested loop), correlated [NOT] EXISTS as hash semi/anti joins on
    // the PULLED-UP correlation equalities (the optimizer's
    // PullupCorrelatedPredicates fills joinCond). Each commit stays the
    // O(matched-rows) deletion vector. Oracle: replay the three
    // deletes as sequential filters with DuckDB's own NOT IN/EXISTS.
    QuerySpec("q250_sql_delete_notin_exists",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q250_").toString
        Tables.events(s, dir).createOrReplaceTempView("q250_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.d (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.d (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q250_events WHERE event_id % 2 = 0""")
        s.sql("""CREATE OR REPLACE TEMP VIEW q250_keep AS
          SELECT event_id FROM q250_events WHERE event_id % 3 = 0""")
        s.sql("""CREATE OR REPLACE TEMP VIEW q250_wit AS
          SELECT DISTINCT user_id FROM q250_events WHERE user_id % 3 = 0""")
        s.sql(s"""DELETE FROM $cat.db.d
          WHERE cents % 3 = 0 AND event_id NOT IN
            (SELECT event_id FROM q250_keep)""")
        s.sql(s"""DELETE FROM $cat.db.d t
          WHERE cents % 5 = 1 AND EXISTS
            (SELECT 1 FROM q250_wit w WHERE w.user_id = t.user_id)""")
        s.sql(s"""DELETE FROM $cat.db.d t
          WHERE cents % 5 = 2 AND NOT EXISTS
            (SELECT 1 FROM q250_wit w WHERE w.user_id = t.user_id)""")
        val out = s.sql(s"SELECT event_id, user_id, cents, pk FROM $cat.db.d")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        keep AS (SELECT event_id FROM e WHERE event_id % 3 = 0),
        wit AS (SELECT DISTINCT user_id FROM e WHERE user_id % 3 = 0),
        t0 AS (SELECT * FROM e WHERE event_id % 2 = 0),
        t1 AS (SELECT * FROM t0 WHERE NOT (cents % 3 = 0 AND
          event_id NOT IN (SELECT event_id FROM keep))),
        t2 AS (SELECT * FROM t1 t WHERE NOT (cents % 5 = 1 AND
          EXISTS (SELECT 1 FROM wit w WHERE w.user_id = t.user_id))),
        t3 AS (SELECT * FROM t2 t WHERE NOT (cents % 5 = 2 AND
          NOT EXISTS (SELECT 1 FROM wit w WHERE w.user_id = t.user_id)))
        SELECT event_id, user_id, cents, pk FROM t3""")),

    // NATIVE STREAMING WRITE CAPSTONE (round 11): `df.writeStream
    // .toTable("graft.db.t")` — the Delta idiom, previously only
    // reachable via foreachBatch. Two AvailableNow runs on ONE
    // checkpoint: the first streams half the source files into the
    // sink through GraftStreamingWrite (tasks stage parquet, the epoch
    // commits via appendBatch's atomic (appId, epochId) txn marker —
    // exactly-once under redelivery), the restart processes ONLY the
    // new files (offsets + txn state), and a third, empty restart
    // commits nothing. Oracle: the sink equals the full source set.
    QuerySpec("q251_sql_stream_write",
      (s, dir) => {
        import s.implicits._
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q251_").toString
        Tables.events(s, dir).createOrReplaceTempView("q251_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.sw (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        val srcDir = s"$base/_src"
        val ckpt = s"$base/_ckpt"
        val feed = s.sql("""SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM q251_events""")
        val schema = feed.schema
        def run(): Unit = {
          val q = s.readStream.schema(schema).parquet(srcDir)
            .writeStream
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)
            .toTable(s"$cat.db.sw")
          q.awaitTermination(180000)
          require(!q.isActive, "q251 stream did not drain")
        }
        feed.filter($"event_id" % 2 === 0).coalesce(2)
          .write.mode("append").parquet(srcDir)
        run() // tick 1: even event_ids
        feed.filter($"event_id" % 2 === 1).coalesce(2)
          .write.mode("append").parquet(srcDir)
        run() // tick 2 (same checkpoint): only the new files
        run() // tick 3: empty — must commit nothing and change nothing
        val out = s.sql(s"SELECT event_id, user_id, cents, pk FROM $cat.db.sw")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT event_id, user_id,
          CAST(round(value * 100) AS BIGINT) AS cents,
          CAST(user_id % 4 AS BIGINT) AS pk
        FROM events""")),

    // COLUMN-MAPPING LIFECYCLE (round 11): RENAME COLUMN / DROP COLUMN
    // as METADATA-ONLY operations (the Delta column-mapping shape —
    // files keep their physical names forever, reads translate, a
    // dropped slot is retired so a re-added name reads NULL for old
    // rows, never the dropped bytes), then mutations over the renamed
    // surface: an INSERT by the new names, an UPDATE on the renamed
    // column, and a DELETE whose predicate the V2 filter language
    // cannot express (modulo — claimed by the row-level strategy, lands
    // as a deletion vector). Oracle: replay the lifecycle relationally;
    // a resurrecting drop, a missed rename or a mis-scoped mutation
    // breaks the hash.
    QuerySpec("q252_sql_column_mapping",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q252_").toString
        Tables.events(s, dir).createOrReplaceTempView("q252_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.cm (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.cm (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q252_events WHERE event_id % 2 = 0""")
        s.sql(s"ALTER TABLE $cat.db.cm RENAME COLUMN cents TO amount")
        s.sql(s"ALTER TABLE $cat.db.cm DROP COLUMN user_id")
        // re-added name: FRESH physical slot — the old rows read NULL
        s.sql(s"ALTER TABLE $cat.db.cm ADD COLUMNS (user_id BIGINT)")
        s.sql(s"""INSERT INTO $cat.db.cm (event_id, amount, pk, user_id)
          SELECT event_id, CAST(round(value * 100) + 1 AS BIGINT),
            user_id % 4, user_id
          FROM q252_events WHERE event_id % 2 = 1""")
        s.sql(s"UPDATE $cat.db.cm SET amount = amount * 2 WHERE amount % 10 = 3")
        s.sql(s"DELETE FROM $cat.db.cm WHERE amount % 7 = 0")
        val out = s.sql(s"SELECT event_id, amount, user_id, pk FROM $cat.db.cm")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        t0 AS (
          SELECT event_id, cents AS amount, CAST(NULL AS BIGINT) AS user_id, pk
          FROM e WHERE event_id % 2 = 0
          UNION ALL
          SELECT event_id, cents + 1 AS amount, user_id, pk
          FROM e WHERE event_id % 2 = 1),
        t1 AS (
          SELECT event_id,
            CASE WHEN amount % 10 = 3 THEN amount * 2 ELSE amount END AS amount,
            user_id, pk
          FROM t0)
        SELECT event_id, amount, user_id, pk FROM t1
        WHERE NOT (amount % 7 = 0)""")),

    // SCHEMA-LIFECYCLE CAPSTONE (round 11): column DEFAULT values +
    // metadata-only TYPE WIDENING + RENAME in one SQL ladder. The
    // first insert OMITS the defaulted column (the analyzer fills
    // 'std'); the INT column then widens to BIGINT (files keep INT32 —
    // the readers up-convert) and renames; the second insert lands
    // values ABOVE Int.MaxValue under the new name — only possible
    // because the widen is real — and an UPDATE flips the defaulted
    // column on a modulo of the widened one. Oracle: replay; a missed
    // default, a broken widen read or a half-applied rename breaks the
    // hash.
    QuerySpec("q253_sql_schema_lifecycle",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q253_").toString
        Tables.events(s, dir).createOrReplaceTempView("q253_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.sl (
            event_id BIGINT, user_id BIGINT, cents INT,
            grade STRING DEFAULT 'std', pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.sl (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(user_id % 1000 AS INT),
            user_id % 4
          FROM q253_events WHERE event_id % 2 = 0""") // grade -> 'std'
        s.sql(s"ALTER TABLE $cat.db.sl ALTER COLUMN cents TYPE BIGINT")
        s.sql(s"ALTER TABLE $cat.db.sl RENAME COLUMN cents TO amount")
        s.sql(s"""INSERT INTO $cat.db.sl (event_id, user_id, amount, grade, pk)
          SELECT event_id, user_id,
            CAST(10000000000 + event_id AS BIGINT), 'big', user_id % 4
          FROM q253_events WHERE event_id % 2 = 1""") // beyond Int.MaxValue
        s.sql(s"UPDATE $cat.db.sl SET grade = 'hot' WHERE amount % 9 = 0")
        val out = s.sql(
          s"SELECT event_id, user_id, amount, grade, pk FROM $cat.db.sl")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id, CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        t0 AS (
          SELECT event_id, user_id,
            CAST(user_id % 1000 AS BIGINT) AS amount, 'std' AS grade, pk
          FROM e WHERE event_id % 2 = 0
          UNION ALL
          SELECT event_id, user_id,
            CAST(10000000000 + event_id AS BIGINT) AS amount,
            'big' AS grade, pk
          FROM e WHERE event_id % 2 = 1)
        SELECT event_id, user_id, amount,
          CASE WHEN amount % 9 = 0 THEN 'hot' ELSE grade END AS grade, pk
        FROM t0""")),

    // METADATA-ONLY AGGREGATE PUSHDOWN (round 11): `SELECT count(*) /
    // count(c) / min(c) / max(c) FROM t` answers from the manifest's
    // footer row counts and zone maps — the statement plans a
    // LocalTableScan (REQUIRED in-query: a silent fallback to the
    // parquet scan fails the run, not just the plan), opens zero data
    // files and runs zero jobs. Two commits + a nullable column prove
    // the merge across commits and the null accounting; the oracle
    // replays the same aggregates relationally in DuckDB — a wrong
    // row count, missed null or truncated extremum breaks the hash.
    QuerySpec("q254_sql_meta_agg",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q254_").toString
        Tables.events(s, dir).createOrReplaceTempView("q254_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ma (
            event_id BIGINT, amount BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='event_id,amount')""")
        s.sql(s"""INSERT INTO $cat.db.ma (event_id, amount, pk)
          SELECT event_id,
            CASE WHEN event_id % 5 = 0 THEN NULL
              ELSE CAST(round(value * 100) AS BIGINT) END,
            user_id % 4
          FROM q254_events WHERE event_id % 2 = 0""")
        s.sql(s"""INSERT INTO $cat.db.ma (event_id, amount, pk)
          SELECT event_id,
            CASE WHEN event_id % 5 = 0 THEN NULL
              ELSE CAST(round(value * 100) AS BIGINT) END,
            user_id % 4
          FROM q254_events WHERE event_id % 2 = 1""")
        val out = s.sql(s"""SELECT count(*) AS cnt, count(amount) AS cnt_amt,
            min(amount) AS mn_amt, max(amount) AS mx_amt,
            min(event_id) AS mn_id, max(event_id) AS mx_id
          FROM $cat.db.ma""")
        require(out.queryExecution.executedPlan.toString
          .contains("LocalTableScan"),
          "metadata aggregate pushdown did not engage — the statement " +
            "planned a data scan")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT count(*) AS cnt, count(amount) AS cnt_amt,
          min(amount) AS mn_amt, max(amount) AS mx_amt,
          min(event_id) AS mn_id, max(event_id) AS mx_id
        FROM (
          SELECT event_id,
            CASE WHEN event_id % 5 = 0 THEN NULL
              ELSE CAST(round(value * 100) AS BIGINT) END AS amount
          FROM events) t""")),

    // RUNTIME FILTERING / DYNAMIC PARTITION PRUNING (round 11): the
    // classic star-schema shape — a filtered parquet dimension joins a
    // graft fact table ON ITS PARTITION COLUMN, and the scan re-plans
    // at runtime with the dimension's join keys (SupportsRuntimeV2-
    // Filtering): only the matching partition directories are read.
    // Mechanism-gated in-query: the plan must carry the dynamic-
    // pruning subquery AND the scan must record a runtime re-plan —
    // a silent fallback to the full scan fails the run. Oracle: the
    // same join replayed relationally in DuckDB.
    QuerySpec("q255_sql_dpp_join",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q255_").toString
        Tables.events(s, dir).createOrReplaceTempView("q255_events")
        Tables.nation(s, dir).createOrReplaceTempView("q255_nation")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.fact (
            event_id BIGINT, amount BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='amount')""")
        s.sql(s"""INSERT INTO $cat.db.fact (event_id, amount, pk)
          SELECT event_id, CAST(round(value * 100) AS BIGINT), user_id % 8
          FROM q255_events""")
        val before = org.apache.spark.sql.graft.GraftSqlRead
          .runtimeFilterEvents.get
        val out = s.sql(s"""SELECT f.event_id, f.amount, n.n_name AS nation
          FROM $cat.db.fact f
          JOIN q255_nation n ON f.pk = CAST(n.n_nationkey AS BIGINT)
          WHERE n.n_regionkey = 1""")
        val snap = out.localCheckpoint(true)
        require(out.queryExecution.executedPlan.toString
          .contains("dynamicpruning"),
          "dynamic partition pruning did not reach the fact scan")
        require(org.apache.spark.sql.graft.GraftSqlRead
          .runtimeFilterEvents.get > before,
          "the fact scan did not re-plan with the dimension's join keys")
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT e.event_id, CAST(round(e.value * 100) AS BIGINT) AS amount,
          n.n_name AS nation
        FROM events e
        JOIN nation n ON e.user_id % 8 = n.n_nationkey
        WHERE n.n_regionkey = 1""")),

    // INSERT OVERWRITE LADDER (round 11): STATIC `PARTITION (pk = 2)`
    // replaces exactly that partition (the replaceWhere shape), then a
    // DYNAMIC overwrite (the session's partitionOverwriteMode=dynamic,
    // the per-day re-import idiom) replaces exactly the partitions the
    // incoming rows touch — pk 3 must survive both untouched. The
    // dynamic statement runs through the staged V2 write
    // (GraftBatchStageWrite: tasks stage parquet, the driver commit
    // replaces touched partitions atomically). Oracle: the three
    // regimes replayed relationally — a whole-table replace, a missed
    // partition or a half-applied overwrite breaks the hash.
    QuerySpec("q256_sql_overwrite",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q256_").toString
        Tables.events(s, dir).createOrReplaceTempView("q256_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.fact (
            event_id BIGINT, amount BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='amount')""")
        s.sql(s"""INSERT INTO $cat.db.fact (event_id, amount, pk)
          SELECT event_id, CAST(round(value * 100) AS BIGINT), user_id % 4
          FROM q256_events""")
        // static partition overwrite: doubled amounts land in pk=2 only
        s.sql(s"""INSERT OVERWRITE $cat.db.fact PARTITION (pk = 2)
          SELECT event_id, CAST(round(value * 100) * 2 AS BIGINT)
          FROM q256_events WHERE user_id % 4 = 2""")
        // dynamic overwrite: replaces pk 0 and 1 with a sparser set
        s.sql(s"""INSERT OVERWRITE $cat.db.fact
          SELECT event_id, CAST(round(value * 100) + 7 AS BIGINT),
            user_id % 4
          FROM q256_events
          WHERE user_id % 4 IN (0, 1) AND event_id % 3 = 0""")
        val out = s.sql(s"SELECT event_id, amount, pk FROM $cat.db.fact")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, CAST(round(value * 100) AS BIGINT) AS amount,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events)
        SELECT event_id, amount, pk FROM e WHERE pk = 3
        UNION ALL
        SELECT event_id, amount * 2 AS amount, pk FROM e WHERE pk = 2
        UNION ALL
        SELECT event_id, amount + 7 AS amount, pk FROM e
        WHERE pk IN (0, 1) AND event_id % 3 = 0""")),

    // STORAGE-PARTITIONED JOIN (round 11, SPARK-37375 over the graft
    // manifest): two catalog tables partitioned on the same key join
    // with ZERO shuffle exchanges — each scan plans key-grouped input
    // partitions and reports KeyGroupedPartitioning, so the engine
    // lines the directories up instead of shuffling both facts. The
    // no-shuffle claim is REQUIRED in-query (broadcast disabled so the
    // exchange-free plan can only come from storage partitioning); the
    // oracle replays the join relationally — at 100 TB this plan shape
    // is the difference between a co-located merge and shuffling two
    // fact tables.
    QuerySpec("q257_sql_spj_join",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q257_").toString
        Tables.events(s, dir).createOrReplaceTempView("q257_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        Seq("amount" -> "round(value * 100)",
          "score" -> "round(value * 1000)").foreach { case (colName, e) =>
          val t = if (colName == "amount") "fa" else "fb"
          s.sql(s"""CREATE TABLE $cat.db.$t (
              event_id BIGINT, $colName BIGINT, pk BIGINT)
            PARTITIONED BY (pk) TBLPROPERTIES ('keys'='event_id')""")
          s.sql(s"""INSERT INTO $cat.db.$t (event_id, $colName, pk)
            SELECT event_id, CAST($e AS BIGINT), user_id % 4
            FROM q257_events""")
        }
        val prevB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val out = s.sql(s"""SELECT a.event_id, a.amount, b.score, a.pk
            FROM $cat.db.fa a
            JOIN $cat.db.fb b ON a.pk = b.pk AND a.event_id = b.event_id""")
          val snap = out.localCheckpoint(true)
          val plan = out.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange hashpartitioning"),
            "storage-partitioned join shuffled — the co-located plan " +
              "did not engage")
          graft.operators.Fs.deleteTree(base)
          snap
        } finally
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      },
      Some("""
        WITH e AS (
          SELECT event_id, CAST(round(value * 100) AS BIGINT) AS amount,
            CAST(round(value * 1000) AS BIGINT) AS score,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events)
        SELECT event_id, amount, score, pk FROM e""")),

    // HIDDEN PARTITIONING (round 11, the Iceberg transform vocabulary):
    // the table is PARTITIONED BY (months(ts), bucket(4, user_id)) — the
    // partition value is DERIVED on every write path and never appears
    // in the schema. The ladder mutates through UPDATE and DELETE: a
    // replace-semantics rewrite under a transform is only exact if the
    // mutation re-derives the hidden value identically (a drifted
    // derivation strands or duplicates rows), so the relational oracle
    // gates the derivation itself. The day render in the output also
    // pins the calendar transform's clock (UTC). months (not days):
    // the mechanism is identical and the partition count stays
    // bench-sane at any SF.
    QuerySpec("q258_sql_hidden_partition",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q258_").toString
        Tables.events(s, dir).createOrReplaceTempView("q258_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.hp (
            event_id BIGINT, amount BIGINT, user_id BIGINT, ts TIMESTAMP)
          PARTITIONED BY (months(ts), bucket(4, user_id))
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='amount')""")
        s.sql(s"""INSERT INTO $cat.db.hp (event_id, amount, user_id, ts)
          SELECT event_id, CAST(round(value * 100) AS BIGINT), user_id, ts
          FROM q258_events""")
        s.sql(s"UPDATE $cat.db.hp SET amount = amount * 3 WHERE amount % 11 = 0")
        s.sql(s"DELETE FROM $cat.db.hp WHERE amount % 13 = 0")
        val out = s.sql(s"""SELECT event_id, amount, user_id,
            date_format(ts, 'yyyy-MM-dd') AS day
          FROM $cat.db.hp""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, CAST(round(value * 100) AS BIGINT) AS amount,
            user_id, ts
          FROM events),
        t0 AS (
          SELECT event_id,
            CASE WHEN amount % 11 = 0 THEN amount * 3 ELSE amount END
              AS amount,
            user_id, ts
          FROM e)
        SELECT event_id, amount, user_id,
          strftime(ts, '%Y-%m-%d') AS day
        FROM t0 WHERE NOT (amount % 13 = 0)""")),

    // GENERATED + IDENTITY COLUMNS (round 11, native capabilities):
    // `twice BIGINT GENERATED ALWAYS AS (amount * 2)` recomputes
    // through INSERT and UPDATE (the invariant holds by construction —
    // the oracle replays the expression relationally and a stale
    // generated value breaks the hash), and a surrogate-key table with
    // `id GENERATED ALWAYS AS IDENTITY` allocates unique values from
    // the zone-map watermark across two separate INSERT commits —
    // uniqueness (count distinct == count) rides the same result row.
    QuerySpec("q259_sql_generated_identity",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q259_").toString
        Tables.events(s, dir).createOrReplaceTempView("q259_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.g (
            event_id BIGINT, amount BIGINT,
            twice BIGINT GENERATED ALWAYS AS (amount * 2), pk BIGINT)
          PARTITIONED BY (pk) TBLPROPERTIES ('keys'='event_id')""")
        s.sql(s"""INSERT INTO $cat.db.g (event_id, amount, pk)
          SELECT event_id, CAST(round(value * 100) AS BIGINT), user_id % 4
          FROM q259_events""")
        s.sql(s"UPDATE $cat.db.g SET amount = amount + 7 WHERE amount % 5 = 0")
        s.sql(s"""CREATE TABLE $cat.db.i (
            id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1000
              INCREMENT BY 2),
            event_id BIGINT) TBLPROPERTIES ('keys'='id')""")
        s.sql(s"""INSERT INTO $cat.db.i (event_id)
          SELECT event_id FROM q259_events WHERE event_id % 2 = 0""")
        s.sql(s"""INSERT INTO $cat.db.i (event_id)
          SELECT event_id FROM q259_events WHERE event_id % 2 = 1""")
        val out = s.sql(s"""SELECT g.event_id, g.amount, g.twice,
            s.n AS id_rows, s.d AS id_distinct
          FROM $cat.db.g g
          CROSS JOIN (SELECT count(*) AS n, count(DISTINCT id) AS d
            FROM $cat.db.i) s""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, CAST(round(value * 100) AS BIGINT) AS amount
          FROM events),
        g AS (
          SELECT event_id,
            CASE WHEN amount % 5 = 0 THEN amount + 7 ELSE amount END
              AS amount
          FROM e)
        SELECT g.event_id, g.amount, g.amount * 2 AS twice,
          s.n AS id_rows, s.d AS id_distinct
        FROM g
        CROSS JOIN (SELECT count(*) AS n, count(*) AS d FROM events) s""")),

    // MERGE WITH SCHEMA EVOLUTION (round 12): the two-batch evolving
    // ingest — batch 1 lands three columns, batch 2 arrives with a NEW
    // `src` column through the Spark 4 native capability
    // (AUTOMATIC_SCHEMA_EVOLUTION → the analyzer computes the delta and
    // ALTERs through the catalog, metadata-only): matched rows take the
    // new values, unmatched batch-1 rows project null for the evolved
    // column, batch-2-only rows insert with it. Oracle replays the
    // two-batch merge relationally; a missed update, a lost insert or a
    // null-projection miss breaks the hash.
    QuerySpec("q260_sql_merge_schema_evolution",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q260_").toString
        Tables.events(s, dir).createOrReplaceTempView("q260_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ev (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q260_events WHERE event_id % 2 = 0""")
        s.sql("""CREATE OR REPLACE TEMP VIEW q260_b2 AS
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) + 1 AS cents,
            user_id % 4 AS pk,
            concat('b', CAST(event_id % 7 AS STRING)) AS src
          FROM q260_events WHERE event_id % 3 = 0""")
        s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.db.ev t
          USING q260_b2 s ON t.event_id = s.event_id
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
        val out = s.sql(
          s"SELECT event_id, user_id, cents, pk, src FROM $cat.db.ev")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        b1 AS (SELECT * FROM e WHERE event_id % 2 = 0),
        b2 AS (
          SELECT event_id, user_id, cents + 1 AS cents, pk,
            concat('b', CAST(event_id % 7 AS VARCHAR)) AS src
          FROM e WHERE event_id % 3 = 0)
        SELECT event_id, user_id, cents, pk, src FROM b2
        UNION ALL
        SELECT event_id, user_id, cents, pk, CAST(NULL AS VARCHAR) AS src
        FROM b1
        WHERE event_id NOT IN (SELECT event_id FROM b2)""")),

    // AUTO-MERGE APPENDS (round 12, the Delta autoMerge shape):
    // `spark.graft.schema.autoMerge = true` lets a BY-NAME append whose
    // frame carries a new column evolve the table instead of failing
    // the analyzer arity check — the write bypasses output resolution
    // (ACCEPT_ANY_SCHEMA) and lands through conform's lock-safe sidecar
    // evolution. Oracle: batch 1 null-pads the evolved column, batch 2
    // carries it.
    QuerySpec("q261_sql_automerge_append",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q261_").toString
        Tables.events(s, dir).createOrReplaceTempView("q261_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.am (
            event_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.am (event_id, cents, pk)
          SELECT event_id, CAST(round(value * 100) AS BIGINT), user_id % 4
          FROM q261_events WHERE event_id % 2 = 0""")
        val b2 = s.sql("""SELECT event_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            user_id % 4 AS pk,
            CASE WHEN user_id % 3 = 0 THEN 'de' ELSE 'en' END AS lang
          FROM q261_events WHERE event_id % 2 = 1""")
        s.conf.set("spark.graft.schema.autoMerge", "true")
        try b2.writeTo(s"$cat.db.am").append()
        finally s.conf.set("spark.graft.schema.autoMerge", "false")
        val out = s.sql(s"SELECT event_id, cents, pk, lang FROM $cat.db.am")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events)
        SELECT event_id, cents, pk, CAST(NULL AS VARCHAR) AS lang
        FROM e WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id, cents, pk,
          CASE WHEN user_id % 3 = 0 THEN 'de' ELSE 'en' END AS lang
        FROM e WHERE event_id % 2 = 1""")),

    // TIMESTAMP AS OF (round 12): time travel by COMMIT TIME (manifest
    // mtimes are the commit clock, the Delta convention), laddered over
    // a fixed three-commit history whose clock the query pins
    // explicitly — snapshot 1 (first insert only), snapshot 2 (both
    // inserts, pre-delete), head (post-delete), all three tagged and
    // unioned. Oracle replays the three states; a wrong version
    // resolution breaks the hash.
    QuerySpec("q265_sql_timestamp_as_of",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q265_").toString
        Tables.events(s, dir).createOrReplaceTempView("q265_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.tt (
            event_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.tt (event_id, cents, pk)
          SELECT event_id, CAST(round(value * 100) AS BIGINT), user_id % 4
          FROM q265_events WHERE event_id % 2 = 0""")
        s.sql(s"""INSERT INTO $cat.db.tt (event_id, cents, pk)
          SELECT event_id, CAST(round(value * 100) AS BIGINT), user_id % 4
          FROM q265_events WHERE event_id % 2 = 1""")
        s.sql(s"DELETE FROM $cat.db.tt WHERE cents % 3 = 0")
        // pin the commit clock: one minute apart per version, so the
        // AS OF instants below are unambiguous at any mtime granularity
        val log = java.nio.file.Paths.get(s"$base/db/tt/_graft_log")
        val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
        val vs = java.nio.file.Files.list(log).toArray.map(_.toString)
          .filter(_.endsWith(".json")).sorted
        vs.zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.setLastModifiedTime(
            java.nio.file.Paths.get(f),
            java.nio.file.attribute.FileTime.from(t0.plusSeconds(60L * i)))
        }
        // vs(0) = the create, vs(1) = insert 1, vs(2) = insert 2,
        // vs(3) = the delete; AS OF 30s past a commit resolves to it
        val out = s.sql(s"""
          SELECT 's1' AS snap, event_id, cents, pk
          FROM $cat.db.tt TIMESTAMP AS OF '2024-01-01 00:01:30'
          UNION ALL
          SELECT 's2' AS snap, event_id, cents, pk
          FROM $cat.db.tt TIMESTAMP AS OF '2024-01-01 00:02:30'
          UNION ALL
          SELECT 'now' AS snap, event_id, cents, pk
          FROM $cat.db.tt""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 4 AS BIGINT) AS pk
          FROM events),
        b1 AS (SELECT event_id, cents, pk FROM e WHERE event_id % 2 = 0),
        b2 AS (SELECT event_id, cents, pk FROM e WHERE event_id % 2 = 1)
        SELECT 's1' AS snap, event_id, cents, pk FROM b1
        UNION ALL
        SELECT 's2' AS snap, event_id, cents, pk
        FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        UNION ALL
        SELECT 'now' AS snap, event_id, cents, pk
        FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        WHERE cents % 3 <> 0""")),

    // PERSISTENT VIEWS (round 12): GraftCatalog implements Spark 4's
    // native ViewCatalog; SELECTs resolve through the extension rule
    // (vanilla 4.1 ships the protocol unwired — the Iceberg model) and
    // INLINE the stored SQL, so pushdown reaches the table scan; DDL
    // rides CALL procedures since vanilla CREATE VIEW is session-
    // catalog-only. The query builds a view WITH column pruning + a
    // predicate, layers a second view over it, and reads through both.
    QuerySpec("q262_sql_view",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q262_").toString
        Tables.events(s, dir).createOrReplaceTempView("q262_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ve (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.ve (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q262_events""")
        s.sql(s"""CALL $cat.system.create_view('db.spend',
          'SELECT user_id, cents FROM $cat.db.ve WHERE cents % 3 = 0')""")
        s.sql(s"""CALL $cat.system.create_view('db.spend_agg',
          'SELECT user_id, CAST(sum(cents) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n
           FROM $cat.db.spend GROUP BY user_id')""")
        val out = s.sql(s"""SELECT user_id, total, n
          FROM $cat.db.spend_agg WHERE total % 2 = 0""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        spend AS (SELECT user_id, cents FROM e WHERE cents % 3 = 0),
        agg AS (
          SELECT user_id, CAST(sum(cents) AS BIGINT) AS total,
            CAST(count(*) AS BIGINT) AS n
          FROM spend GROUP BY user_id)
        SELECT user_id, total, n FROM agg WHERE total % 2 = 0""")),

    // SHOW PARTITIONS (round 12): partition introspection over
    // SupportsPartitionManagement — manifest-only listing (zero jobs,
    // spec-asserted), plain and PARTITION-filtered, over the identity
    // layout. Oracle recomputes the partition strings relationally.
    QuerySpec("q263_sql_show_partitions",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q263_").toString
        Tables.events(s, dir).createOrReplaceTempView("q263_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.sp (
            event_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.sp (event_id, cents, pk)
          SELECT event_id, CAST(round(value * 100) AS BIGINT), user_id % 7
          FROM q263_events""")
        // drop one partition so the listing reflects the LIVE manifest,
        // not the directory tree (old files stay for time travel)
        s.sql(s"ALTER TABLE $cat.db.sp DROP PARTITION (pk=3)")
        val out = s.sql(s"SHOW PARTITIONS $cat.db.sp")
          .withColumnRenamed("partition", "part")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT DISTINCT concat('pk=', CAST(user_id % 7 AS VARCHAR)) AS part
        FROM events WHERE user_id % 7 <> 3""")),

    // DESCRIBE DETAIL (round 12): the `<t>__detail` metadata table —
    // one manifest-only row of table facts. The oracle pins the
    // deterministic subset: identity facts are literals, the partition
    // count recomputes from the data.
    QuerySpec("q264_sql_table_detail",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q264_").toString
        Tables.events(s, dir).createOrReplaceTempView("q264_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.dt (
            event_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.dt (event_id, cents, pk)
          SELECT event_id, CAST(round(value * 100) AS BIGINT), user_id % 5
          FROM q264_events""")
        val out = s.sql(s"""SELECT name, format, keys, partitioning,
            version, num_partitions, num_checks
          FROM $cat.db.dt__detail""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT 'dt' AS name, 'parquet' AS format, 'event_id' AS keys,
          'pk' AS partitioning, CAST(2 AS BIGINT) AS version,
          (SELECT CAST(count(DISTINCT user_id % 5) AS BIGINT) FROM events)
            AS num_partitions,
          CAST(0 AS INTEGER) AS num_checks""")),

    // DROP/TRUNCATE PARTITION (round 12): metadata-level partition
    // removal — the named partition's files leave the manifest in one
    // commit, nothing is read or rewritten, history stays
    // time-travelable. Oracle replays the drops as filters.
    QuerySpec("q266_sql_drop_partition",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q266_").toString
        Tables.events(s, dir).createOrReplaceTempView("q266_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.dp (
            event_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.dp (event_id, cents, pk)
          SELECT event_id, CAST(round(value * 100) AS BIGINT), user_id % 6
          FROM q266_events""")
        s.sql(s"ALTER TABLE $cat.db.dp DROP PARTITION (pk=2)")
        s.sql(s"TRUNCATE TABLE $cat.db.dp PARTITION (pk=5)")
        // the dropped partitions stay time-travelable: union the live
        // head with the pre-drop count per partition
        val out = s.sql(s"""
          SELECT 'live' AS snap, pk, CAST(count(*) AS BIGINT) AS n
          FROM $cat.db.dp GROUP BY pk
          UNION ALL
          SELECT 'v1' AS snap, pk, CAST(count(*) AS BIGINT) AS n
          FROM $cat.db.dp VERSION AS OF 2 GROUP BY pk""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, CAST(user_id % 6 AS BIGINT) AS pk FROM events)
        SELECT 'live' AS snap, pk, CAST(count(*) AS BIGINT) AS n
        FROM e WHERE pk NOT IN (2, 5) GROUP BY pk
        UNION ALL
        SELECT 'v1' AS snap, pk, CAST(count(*) AS BIGINT) AS n
        FROM e GROUP BY pk""")),

    // ANALYZE → CBO (round 12): `CALL <cat>.system.analyze` computes
    // table/column statistics in ONE distributed pass; the scan reports
    // them as V2 column statistics and the query REQUIRES in-plan that
    // they reached the optimizer (exact rowCount + attributeStats on
    // the logical leaves, a broadcast join chosen under cbo with a
    // tight threshold) — the oracle then gates the VALUES. The
    // broadcast-decision FLIP itself (no-stats SMJ → with-stats BHJ)
    // is asserted in GraftCboStatsSpec with controlled sizes.
    QuerySpec("q267_sql_analyze_cbo",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q267_").toString
        Tables.events(s, dir).createOrReplaceTempView("q267_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.f (
            event_id BIGINT, v BIGINT, pk BIGINT)
          PARTITIONED BY (pk) TBLPROPERTIES ('keys'='event_id')""")
        s.sql(s"""INSERT INTO $cat.db.f (event_id, v, pk)
          SELECT event_id, CAST(round(value * 100) AS BIGINT) % 1000,
            user_id % 4
          FROM q267_events""")
        s.sql(s"""CREATE TABLE $cat.db.d (
            event_id BIGINT, w BIGINT, pk BIGINT)
          PARTITIONED BY (pk) TBLPROPERTIES ('keys'='event_id')""")
        s.sql(s"""INSERT INTO $cat.db.d (event_id, w, pk)
          SELECT event_id, user_id, user_id % 4 FROM q267_events""")
        s.sql(s"CALL $cat.system.analyze('db.f')")
        s.sql(s"CALL $cat.system.analyze('db.d')")
        val prevCbo = s.conf.get("spark.sql.cbo.enabled", "false")
        val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val out =
          try {
            s.conf.set("spark.sql.cbo.enabled", "true")
            s.conf.set("spark.sql.autoBroadcastJoinThreshold",
              (4 * 1024 * 1024).toString)
            val df = s.sql(s"""
              SELECT d.event_id, d.w, f.v
              FROM $cat.db.d d JOIN $cat.db.f f ON d.event_id = f.event_id
              WHERE f.v < 50""")
            val qe = df.queryExecution
            val leaves = qe.optimizedPlan.collectLeaves()
            require(leaves.forall(_.stats.rowCount.isDefined),
              "q267: ANALYZE row counts must reach the logical plan")
            require(leaves.exists(_.stats.attributeStats.nonEmpty),
              "q267: column stats must reach attributeStats")
            require(qe.executedPlan.toString.contains("BroadcastHashJoin"),
              "q267: the cost model must choose a broadcast join here")
            df.localCheckpoint(true)
          } finally {
            s.conf.set("spark.sql.cbo.enabled", prevCbo)
            s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
          }
        graft.operators.Fs.deleteTree(base)
        out
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) % 1000 AS v
          FROM events)
        SELECT d.event_id, d.user_id AS w, f.v
        FROM e d JOIN e f ON d.event_id = f.event_id
        WHERE f.v < 50""")),

    // HIDDEN-LAYOUT SHOW PARTITIONS (round 12): partition introspection
    // over a days() hidden layout — the listing is the table's OWN
    // UTC-derived rendering, manifest-only, and reflects the LIVE set
    // after a DELETE empties one day. Oracle recomputes the rendering.
    QuerySpec("q268_sql_show_partitions_hidden",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q268_").toString
        Tables.events(s, dir).createOrReplaceTempView("q268_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.hsp (
            event_id BIGINT, cents BIGINT, ts TIMESTAMP)
          PARTITIONED BY (days(ts))
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.hsp (event_id, cents, ts)
          SELECT event_id, CAST(round(value * 100) AS BIGINT), ts
          FROM q268_events""")
        // drop the earliest day AT THE MANIFEST level: the listing must
        // track the live manifest, not the directory tree (a selective
        // DELETE would land a deletion vector and correctly KEEP the
        // partition listed — its files stay live)
        val minDay = s.sql(
          "SELECT min(date_format(ts, 'yyyy-MM-dd')) FROM q268_events")
          .collect()(0).getString(0)
        s.sql(s"ALTER TABLE $cat.db.hsp DROP PARTITION (__gp = '$minDay')")
        val out = s.sql(s"SHOW PARTITIONS $cat.db.hsp")
          .withColumnRenamed("partition", "part")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH d AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day
                   FROM events)
        SELECT concat('__gp=', day) AS part FROM d
        WHERE day <> (SELECT min(day) FROM d)""")),

    // CLUSTERED-WRITE INGEST (round 12): the same two-batch ingest with
    // `spark.graft.write.clusterByPartition = true` — the REBALANCE
    // shuffle before the file write changes LAYOUT only (one file per
    // cold partition; GraftClusteredWriteSpec asserts the collapse);
    // the oracle gates that CONTENT is bit-identical to the plain path.
    QuerySpec("q269_sql_clustered_write",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q269_").toString
        Tables.events(s, dir).createOrReplaceTempView("q269_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.cw (
            event_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.conf.set("spark.graft.write.clusterByPartition", "true")
        try {
          s.sql(s"""INSERT INTO $cat.db.cw (event_id, cents, pk)
            SELECT event_id, CAST(round(value * 100) AS BIGINT),
              user_id % 8
            FROM q269_events WHERE event_id % 2 = 0""")
          // the keyed upsert path rebalances too (same write barrier)
          s.sql(s"""INSERT INTO $cat.db.cw (event_id, cents, pk)
            SELECT event_id, CAST(round(value * 100) AS BIGINT) + 5,
              user_id % 8
            FROM q269_events WHERE event_id % 2 = 1""")
        } finally s.conf.unset("spark.graft.write.clusterByPartition")
        val out = s.sql(s"SELECT event_id, cents, pk FROM $cat.db.cw")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CAST(user_id % 8 AS BIGINT) AS pk
          FROM events)
        SELECT event_id, cents, pk FROM e WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id, cents + 5 AS cents, pk FROM e
        WHERE event_id % 2 = 1""")),

    // MATERIALIZED VIEW with INCREMENTAL refresh (round 12 capstone —
    // CDC change rows × txn-anchored MERGE × algebraic Incremental
    // state × the persisted-view surface): batch 1 materializes, batch
    // 2 folds in INCREMENTALLY (mode REQUIRED in-query — a silent full
    // recompute fails the run), an UPDATE then forces ONE full
    // recompute+sync (mode required too), and the view serves the
    // finish. Oracle: the same grouped aggregate over the final base.
    QuerySpec("q270_sql_materialized_view",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q270_").toString
        Tables.events(s, dir).createOrReplaceTempView("q270_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ev (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q270_events WHERE event_id % 2 = 0""")
        s.sql(s"""CALL $cat.system.create_mview('db.spend',
          base => 'db.ev', keys => 'user_id', measures => 'cents')""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q270_events WHERE event_id % 2 = 1""")
        val r1 = s.sql(s"CALL $cat.system.refresh_mview('db.spend')")
          .collect()(0)
        require(r1.getString(1) == "incremental",
          s"q270: the insert-only delta must fold INCREMENTALLY, got $r1")
        s.sql(s"UPDATE $cat.db.ev SET cents = cents + 7 WHERE cents % 5 = 0")
        val r2 = s.sql(s"CALL $cat.system.refresh_mview('db.spend')")
          .collect()(0)
        require(r2.getString(1) == "full",
          s"q270: an UPDATE in range must force a full recompute, got $r2")
        val out = s.sql(s"""SELECT user_id, n_rows, sum_cents, avg_cents
          FROM $cat.db.spend""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e0 AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        e AS (
          SELECT user_id,
            CASE WHEN cents % 5 = 0 THEN cents + 7 ELSE cents END AS cents
          FROM e0)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(cents) AS DOUBLE) AS sum_cents,
          CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents
        FROM e GROUP BY user_id""")),

    // NATIVE VIEW DDL (round 13): CREATE VIEW / CREATE OR REPLACE VIEW
    // / SHOW VIEWS / DROP VIEW as plain SQL statements against the
    // graft catalog, through the injected parser (GraftSqlParser —
    // vanilla 4.1 hard-wires view DDL to the session catalog). The
    // lifecycle is gated in-query: SHOW VIEWS must list exactly the
    // live views after a create+drop, the REPLACE must swap the
    // definition the aggregate view then reads through.
    QuerySpec("q271_sql_view_ddl",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q271_").toString
        Tables.events(s, dir).createOrReplaceTempView("q271_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ve (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.ve (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q271_events""")
        // native DDL: create, then REPLACE with the definition the
        // oracle models (the replace must win)
        s.sql(s"""CREATE VIEW $cat.db.spend AS
          SELECT user_id, cents FROM $cat.db.ve WHERE cents % 3 = 0""")
        s.sql(s"""CREATE OR REPLACE VIEW $cat.db.spend AS
          SELECT user_id, cents FROM $cat.db.ve WHERE cents % 2 = 0""")
        s.sql(s"""CREATE VIEW $cat.db.spend_agg AS
          SELECT user_id, CAST(sum(cents) AS BIGINT) AS total,
            CAST(count(*) AS BIGINT) AS n
          FROM $cat.db.spend GROUP BY user_id""")
        // a scratch view leaves via DROP VIEW; SHOW VIEWS gates the
        // surviving set
        s.sql(s"CREATE VIEW $cat.db.scratch AS SELECT 1 AS one")
        s.sql(s"DROP VIEW $cat.db.scratch")
        s.sql(s"DROP VIEW IF EXISTS $cat.db.scratch")
        // round 14: the FULL clause surface — column list (with a
        // comment), view COMMENT, TBLPROPERTIES — read back through
        // DESCRIBE and reconstructed as RUNNABLE DDL by SHOW CREATE
        // VIEW (gated by replaying it)
        s.sql(s"""CREATE VIEW $cat.db.fancy
          (key COMMENT 'the key', money) COMMENT 'clause surface'
          TBLPROPERTIES ('tier' = 'gold')
          AS SELECT user_id, cents FROM $cat.db.ve WHERE cents % 2 = 0""")
        require(s.sql(s"SELECT * FROM $cat.db.fancy").columns.toSeq ==
          Seq("key", "money"),
          "q271: the CREATE VIEW column list must rename the outputs")
        val d = s.sql(s"DESCRIBE EXTENDED $cat.db.fancy").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        require(d.get("Comment").contains("clause surface") &&
          d.get("View Properties").exists(_.contains("tier=gold")),
          s"q271: DESCRIBE EXTENDED must surface comment+properties, got $d")
        val ddl = s.sql(s"SHOW CREATE VIEW $cat.db.fancy")
          .collect()(0).getString(0)
        s.sql(s"DROP VIEW $cat.db.fancy")
        s.sql(ddl) // SHOW CREATE VIEW output must be RUNNABLE
        require(s.sql(s"SELECT * FROM $cat.db.fancy").columns.toSeq ==
          Seq("key", "money"),
          "q271: replayed SHOW CREATE VIEW DDL must rebuild the view")
        s.sql(s"DROP VIEW $cat.db.fancy")
        val shown = s.sql(s"SHOW VIEWS IN $cat.db").collect()
          .map(_.getString(1)).toSeq.sorted
        require(shown == Seq("spend", "spend_agg"),
          s"q271: SHOW VIEWS must list the live views, got $shown")
        val out = s.sql(s"""SELECT user_id, total, n
          FROM $cat.db.spend_agg WHERE n % 2 = 1""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        spend AS (SELECT user_id, cents FROM e WHERE cents % 2 = 0),
        agg AS (
          SELECT user_id, CAST(sum(cents) AS BIGINT) AS total,
            CAST(count(*) AS BIGINT) AS n
          FROM spend GROUP BY user_id)
        SELECT user_id, total, n FROM agg WHERE n % 2 = 1""")),

    // MATERIALIZED-VIEW MEASURE ALGEBRA (round 13): min / max /
    // dcount (DataSketches HLL) / predicate-filtered measures through
    // BOTH refresh modes (incremental after an insert-only delta, full
    // after an UPDATE — modes REQUIRED in-query). Exact measures
    // oracle-replay against the final base; the approximate dcount is
    // gated in-query against the EXACT per-group distinct count
    // (within max(1, 5%)) and surfaces as a boolean the oracle pins
    // true — the measured-recall idiom the ANN ladder uses.
    QuerySpec("q272_sql_mview_algebra",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q272_").toString
        Tables.events(s, dir).createOrReplaceTempView("q272_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ev (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q272_events WHERE event_id % 2 = 0""")
        s.sql(s"""CALL $cat.system.create_mview('db.alg',
          base => 'db.ev', keys => 'user_id',
          measures => 'cents, min:cents, max:cents,
                       dcount:cents AS dc,
                       sum:cents WHERE cents % 3 = 0 AS c3')""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q272_events WHERE event_id % 2 = 1""")
        val r1 = s.sql(s"CALL $cat.system.refresh_mview('db.alg')")
          .collect()(0)
        require(r1.getString(1) == "incremental",
          s"q272: the insert-only delta must fold INCREMENTALLY, got $r1")
        s.sql(s"UPDATE $cat.db.ev SET cents = cents + 7 WHERE cents % 5 = 0")
        val r2 = s.sql(s"CALL $cat.system.refresh_mview('db.alg')")
          .collect()(0)
        require(r2.getString(1) == "full",
          s"q272: an UPDATE in range must force a full recompute, got $r2")
        val out = s.sql(s"""
          SELECT v.user_id, v.n_rows, v.sum_cents, v.avg_cents,
            v.min_cents, v.max_cents, v.sum_c3, v.avg_c3,
            abs(v.dcount_dc - x.exact_dc) <= greatest(1, x.exact_dc / 20)
              AS dcount_ok
          FROM $cat.db.alg v
          JOIN (SELECT user_id, count(DISTINCT cents) AS exact_dc
                FROM $cat.db.ev GROUP BY user_id) x
            ON v.user_id = x.user_id""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e0 AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        e AS (
          SELECT user_id,
            CASE WHEN cents % 5 = 0 THEN cents + 7 ELSE cents END AS cents
          FROM e0)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(cents) AS DOUBLE) AS sum_cents,
          CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents,
          CAST(min(cents) AS DOUBLE) AS min_cents,
          CAST(max(cents) AS DOUBLE) AS max_cents,
          CAST(sum(CASE WHEN cents % 3 = 0 THEN cents END) AS DOUBLE)
            AS sum_c3,
          CAST(avg(CASE WHEN cents % 3 = 0 THEN cents END) AS DOUBLE)
            AS avg_c3,
          true AS dcount_ok
        FROM e GROUP BY user_id""")),

    // CBO HISTOGRAMS (round 13): ANALYZE's equi-height histograms
    // (percentile endpoints, same single pass) flip a plan that
    // min/max interpolation CANNOT — 99.5% of `c` sits in [0,99] with
    // 0.5% up at ~1e9, so `c >= 500000`'s uniform estimate keeps
    // ~everything (gated: NO broadcast without the histogram) while
    // bin coverage shrinks it ~64x (gated: broadcast WITH it). The
    // threshold scales with the SF's row count (5 bytes/row sits
    // between the ~0.6N with-histogram and ~32N without estimates), so
    // the flip gates identically at every SF. Results oracle-replayed.
    QuerySpec("q273_sql_cbo_histogram",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q273_").toString
        Tables.events(s, dir).createOrReplaceTempView("q273_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.f (
            event_id BIGINT, c BIGINT, pk BIGINT)
          PARTITIONED BY (pk) TBLPROPERTIES ('keys'='event_id')""")
        s.sql(s"""INSERT INTO $cat.db.f (event_id, c, pk)
          SELECT event_id,
            CASE WHEN event_id % 200 = 0 THEN 1000000000 + event_id
                 ELSE event_id % 100 END,
            user_id % 4
          FROM q273_events""")
        s.sql(s"""CREATE TABLE $cat.db.d (
            event_id BIGINT, w BIGINT, pk BIGINT)
          PARTITIONED BY (pk) TBLPROPERTIES ('keys'='event_id')""")
        s.sql(s"""INSERT INTO $cat.db.d (event_id, w, pk)
          SELECT event_id, user_id, user_id % 4 FROM q273_events""")
        s.sql(s"CALL $cat.system.analyze('db.d')")
        val n = s.sql(s"SELECT count(*) FROM q273_events").collect()(0)
          .getLong(0)
        val q = s"""SELECT d.event_id, d.w, f.c
          FROM $cat.db.d d JOIN $cat.db.f f ON d.event_id = f.event_id
          WHERE f.c >= 500000"""
        val prevCbo = s.conf.get("spark.sql.cbo.enabled", "false")
        val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val out =
          try {
            s.conf.set("spark.sql.cbo.enabled", "true")
            s.conf.set("spark.sql.autoBroadcastJoinThreshold",
              (5L * n).toString)
            s.sql(s"CALL $cat.system.analyze('db.f', histogram_bins => 0)")
            require(!s.sql(q).queryExecution.executedPlan.toString
                .contains("BroadcastHashJoin"),
              "q273: min/max alone must NOT see through the skew")
            s.sql(s"CALL $cat.system.analyze('db.f', histogram_bins => 64)")
            val qe = s.sql(q).queryExecution
            require(qe.optimizedPlan.collectLeaves()
                .flatMap(_.stats.attributeStats.toSeq)
                .exists(kv => kv._1.name == "c" &&
                  kv._2.histogram.exists(_.bins.length == 64)),
              "q273: the histogram must reach catalyst ColumnStat")
            require(qe.executedPlan.toString.contains("BroadcastHashJoin"),
              "q273: bin coverage must flip the join to broadcast")
            s.sql(q).localCheckpoint(true)
          } finally {
            s.conf.set("spark.sql.cbo.enabled", prevCbo)
            s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
          }
        graft.operators.Fs.deleteTree(base)
        out
      },
      Some("""
        WITH f AS (
          SELECT event_id,
            CASE WHEN event_id % 200 = 0 THEN 1000000000 + event_id
                 ELSE event_id % 100 END AS c
          FROM events)
        SELECT d.event_id, d.user_id AS w, f.c
        FROM events d JOIN f ON d.event_id = f.event_id
        WHERE f.c >= 500000""")),

    // ATOMIC CREATE OR REPLACE / RTAS (round 13): the catalog is a
    // StagingTableCatalog — the replacement builds invisibly in a
    // gen_<uuid> subdirectory and commit is ONE atomic _graft_ptr
    // move (the old drop+create crash window that could LOSE the
    // table is retired; GraftReplaceTableSpec proves the window shut).
    // Gated in-query: the planner must pick the Atomic RTAS exec; the
    // ladder replaces a seeded table twice (RTAS, then CREATE OR
    // REPLACE ... AS SELECT with a different shape) and the final
    // contents oracle-replay.
    QuerySpec("q274_sql_atomic_replace",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q274_").toString
        Tables.events(s, dir).createOrReplaceTempView("q274_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.t (
            event_id BIGINT, cents BIGINT)
          TBLPROPERTIES ('keys'='event_id')""")
        s.sql(s"""INSERT INTO $cat.db.t
          SELECT event_id, CAST(round(value * 100) AS BIGINT)
          FROM q274_events""")
        val rtas = s"""REPLACE TABLE $cat.db.t
          TBLPROPERTIES ('keys'='event_id')
          AS SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) AS cents
          FROM q274_events WHERE event_id % 3 = 0"""
        require(s.sql(s"EXPLAIN $rtas").collect()(0).getString(0)
            .contains("AtomicReplaceTableAsSelect"),
          "q274: REPLACE must plan through the ATOMIC staged exec")
        s.sql(rtas)
        require(s.sql(s"SELECT count(*) FROM $cat.db.t WHERE event_id % 3 <> 0")
            .collect()(0).getLong(0) == 0L,
          "q274: the replace must swap contents")
        // second replace: generational -> generational (old gen swept)
        s.sql(s"""CREATE OR REPLACE TABLE $cat.db.t
          TBLPROPERTIES ('keys'='event_id')
          AS SELECT event_id, user_id,
            CAST(round(value * 100) AS BIGINT) * 2 AS cents2
          FROM q274_events WHERE event_id % 3 = 1""")
        val out = s.sql(s"SELECT event_id, user_id, cents2 FROM $cat.db.t")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT event_id, user_id,
          CAST(round(value * 100) AS BIGINT) * 2 AS cents2
        FROM events WHERE event_id % 3 = 1""")),

    // SELECT-DEFINED MATERIALIZED VIEW (round 13): create_mview_sql
    // pattern-matches the ANALYZED plan of a full SELECT (WHERE +
    // per-aggregate FILTER + sum/avg/min/max/count families) onto the
    // incremental algebra; the view renders EXACTLY the SELECT's
    // columns. Ladder: create at batch 1, insert-only delta folds
    // INCREMENTALLY, an UPDATE forces the full recompute (modes
    // required in-query); oracle replays the SELECT over the final
    // base.
    QuerySpec("q275_sql_mview_select",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q275_").toString
        Tables.events(s, dir).createOrReplaceTempView("q275_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ev (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q275_events WHERE event_id % 2 = 0""")
        s.sql(s"""CALL $cat.system.create_mview_sql('db.agg', sql =>
          "SELECT user_id, sum(cents) AS total, count(*) AS n,
             min(cents) AS lo, max(cents) AS hi, avg(cents) AS mean,
             sum(cents) FILTER (WHERE cents % 2 = 0) AS even_total
           FROM $cat.db.ev WHERE cents > 10 GROUP BY user_id")""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q275_events WHERE event_id % 2 = 1""")
        val r1 = s.sql(s"CALL $cat.system.refresh_mview('db.agg')")
          .collect()(0)
        require(r1.getString(1) == "incremental",
          s"q275: the insert-only delta must fold INCREMENTALLY, got $r1")
        s.sql(s"UPDATE $cat.db.ev SET cents = cents + 7 WHERE cents % 5 = 0")
        val r2 = s.sql(s"CALL $cat.system.refresh_mview('db.agg')")
          .collect()(0)
        require(r2.getString(1) == "full",
          s"q275: an UPDATE in range must force a full recompute, got $r2")
        val out = s.sql(s"""SELECT user_id, total, n, lo, hi, mean,
          even_total FROM $cat.db.agg""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e0 AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        e AS (
          SELECT user_id,
            CASE WHEN cents % 5 = 0 THEN cents + 7 ELSE cents END AS cents
          FROM e0)
        SELECT user_id, CAST(sum(cents) AS BIGINT) AS total,
          CAST(count(*) AS BIGINT) AS n, min(cents) AS lo,
          max(cents) AS hi, CAST(sum(cents) AS DOUBLE) / count(*) AS mean,
          CAST(sum(CASE WHEN cents % 2 = 0 THEN cents END) AS BIGINT)
            AS even_total
        FROM e WHERE cents > 10 GROUP BY user_id""")),

    // TIME-BUCKETED ROLLUP MVIEW (round 13): expression GROUP BYs in
    // the SELECT-defined flavor — `GROUP BY CAST(ts AS DATE)` becomes
    // a DERIVED state key recomputed on every state input, THE
    // canonical materialized-view shape (daily rollups). Two-batch
    // ladder with required refresh modes; oracle replays the rollup.
    QuerySpec("q276_sql_mview_rollup",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q276_").toString
        Tables.events(s, dir).createOrReplaceTempView("q276_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ev (
            event_id BIGINT, ts TIMESTAMP, user_id BIGINT, cents BIGINT)
          TBLPROPERTIES ('keys'='event_id')""")
        s.sql(s"""INSERT INTO $cat.db.ev
          SELECT event_id, ts, user_id, CAST(round(value * 100) AS BIGINT)
          FROM q276_events WHERE event_id % 2 = 0""")
        s.sql(s"""CALL $cat.system.create_mview_sql('db.daily', sql =>
          "SELECT CAST(ts AS DATE) AS day, user_id % 4 AS cohort,
             sum(cents) AS total, count(*) AS n, max(cents) AS peak
           FROM $cat.db.ev GROUP BY CAST(ts AS DATE), user_id % 4")""")
        s.sql(s"""INSERT INTO $cat.db.ev
          SELECT event_id, ts, user_id, CAST(round(value * 100) AS BIGINT)
          FROM q276_events WHERE event_id % 2 = 1""")
        val r1 = s.sql(s"CALL $cat.system.refresh_mview('db.daily')")
          .collect()(0)
        require(r1.getString(1) == "incremental",
          s"q276: the insert-only delta must fold INCREMENTALLY, got $r1")
        s.sql(s"DELETE FROM $cat.db.ev WHERE cents % 7 = 0")
        val r2 = s.sql(s"CALL $cat.system.refresh_mview('db.daily')")
          .collect()(0)
        require(r2.getString(1) == "full",
          s"q276: a DELETE in range must force a full recompute, got $r2")
        val out = s.sql(
          s"SELECT day, cohort, total, n, peak FROM $cat.db.daily")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT CAST(ts AS DATE) AS day, user_id % 4 AS cohort,
            CAST(round(value * 100) AS BIGINT) AS cents
          FROM events)
        SELECT day, cohort, CAST(sum(cents) AS BIGINT) AS total,
          CAST(count(*) AS BIGINT) AS n, max(cents) AS peak
        FROM e WHERE cents % 7 <> 0 GROUP BY day, cohort""")),

    // HAVING MVIEW (round 13): the HAVING condition — here over an
    // aggregate NOT in the SELECT list, which the analyzer
    // materializes as a hidden aggregate output — filters at READ
    // time, so groups keep their state and re-emerge when a later
    // delta pushes them over the bar (gated in-query: a group absent
    // at batch 1 must appear after the incremental fold). Oracle
    // replays the HAVING aggregate over the final base.
    QuerySpec("q277_sql_mview_having",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q277_").toString
        Tables.events(s, dir).createOrReplaceTempView("q277_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ev (
            event_id BIGINT, user_id BIGINT, cents BIGINT)
          TBLPROPERTIES ('keys'='event_id')""")
        s.sql(s"""INSERT INTO $cat.db.ev
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT)
          FROM q277_events WHERE event_id % 4 = 0""")
        // the bar sits between batch-1's per-user row count (~n/4u)
        // and the final one (~n/u), at EVERY SF: floor(floor(n/u)/2)
        // == floor(n/u/2), so the oracle recomputes it identically
        val stats = s.sql(
          "SELECT count(*), count(DISTINCT user_id) FROM q277_events")
          .collect()(0)
        val bar = stats.getLong(0) / stats.getLong(1) / 2
        s.sql(s"""CALL $cat.system.create_mview_sql('db.heavy', sql =>
          "SELECT user_id, sum(cents) AS total
           FROM $cat.db.ev GROUP BY user_id
           HAVING count(*) > CAST($bar AS BIGINT)")""")
        val before = s.sql(s"SELECT count(*) FROM $cat.db.heavy")
          .collect()(0).getLong(0)
        s.sql(s"""INSERT INTO $cat.db.ev
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT)
          FROM q277_events WHERE event_id % 4 <> 0""")
        val r1 = s.sql(s"CALL $cat.system.refresh_mview('db.heavy')")
          .collect()(0)
        require(r1.getString(1) == "incremental",
          s"q277: the insert-only delta must fold INCREMENTALLY, got $r1")
        val after = s.sql(s"SELECT count(*) FROM $cat.db.heavy")
          .collect()(0).getLong(0)
        require(after > before,
          s"q277: groups must RE-EMERGE across the HAVING bar after the " +
            s"fold (before=$before, after=$after) — state is kept for " +
            "every group")
        val out = s.sql(s"SELECT user_id, total FROM $cat.db.heavy")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        bar AS (
          SELECT CAST(count(*) / count(DISTINCT user_id) / 2 AS BIGINT) AS b
          FROM events)
        SELECT user_id, CAST(sum(cents) AS BIGINT) AS total
        FROM e GROUP BY user_id
        HAVING count(*) > (SELECT b FROM bar)""")),

    // FACT ⋈ DIMS MATERIALIZED VIEW (round 14): create_mview_sql
    // accepts a star join — fact (leftmost) JOIN small dims — and
    // folds insert-only FACT deltas incrementally (delta ⋈ broadcast
    // dims → partial aggregate → bucketed state MERGE) while any
    // DIM-side change forces ONE honest full recompute that re-anchors
    // the dim versions. Gated in-query: batch-2 fact delta must fold
    // "incremental"; the dim UPDATE (with NO fact movement) must
    // recompute "full" AT THE UNCHANGED fact anchor (from == to — the
    // reapply-equal-batch commit). Oracle replays the join rollup over
    // the final tables.
    QuerySpec("q278_sql_mview_join",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q278_").toString
        Tables.events(s, dir).createOrReplaceTempView("q278_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.fact (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""CREATE TABLE $cat.db.dim (g BIGINT, tag STRING)
          TBLPROPERTIES ('keys'='g')""")
        s.sql(s"""INSERT INTO $cat.db.dim
          SELECT id, concat('g', CAST(id AS STRING)) FROM range(8)""")
        s.sql(s"""INSERT INTO $cat.db.fact (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q278_events WHERE event_id % 2 = 0""")
        s.sql(s"""CALL $cat.system.create_mview_sql('db.rollup', sql =>
          "SELECT d.tag, sum(f.cents) AS total, count(*) AS n,
             max(f.cents) AS peak
           FROM $cat.db.fact f JOIN $cat.db.dim d ON f.user_id % 8 = d.g
           GROUP BY d.tag")""")
        s.sql(s"""INSERT INTO $cat.db.fact (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q278_events WHERE event_id % 2 = 1""")
        val r1 = s.sql(s"CALL $cat.system.refresh_mview('db.rollup')")
          .collect()(0)
        require(r1.getString(1) == "incremental",
          s"q278: the insert-only FACT delta must fold INCREMENTALLY, got $r1")
        // a DIM change rewrites join history → full recompute, and the
        // fact did NOT move: from == to proves the re-anchor committed
        // at the unchanged fact anchor
        s.sql(s"UPDATE $cat.db.dim SET tag = 'gX' WHERE g = 3")
        val r2 = s.sql(s"CALL $cat.system.refresh_mview('db.rollup')")
          .collect()(0)
        require(r2.getString(1) == "full",
          s"q278: a DIM change must force a FULL recompute, got $r2")
        require(r2.getLong(2) == r2.getLong(3),
          s"q278: the dim-driven recompute must commit at the UNCHANGED " +
            s"fact anchor, got $r2")
        val out = s.sql(s"SELECT tag, total, n, peak FROM $cat.db.rollup")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT user_id % 8 AS g,
            CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        t AS (
          SELECT CASE WHEN g = 3 THEN 'gX'
                      ELSE 'g' || CAST(g AS VARCHAR) END AS tag, cents
          FROM e)
        SELECT tag, CAST(sum(cents) AS BIGINT) AS total,
          CAST(count(*) AS BIGINT) AS n, max(cents) AS peak
        FROM t GROUP BY tag""")),

    // APPROX_COUNT_DISTINCT MVIEW (round 14): the SQL-defined flavor
    // maps approx_count_distinct(col) onto the dcount HLL state (the
    // sketch union IS the incremental fold); exact COUNT(DISTINCT)
    // rejects loudly NAMING the approximate alternative (gated
    // in-query). The estimate is gated against the exact per-group
    // distinct count (within max(1, 5%)) like q272; exact measures
    // oracle-replay.
    QuerySpec("q279_sql_mview_adc",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q279_").toString
        Tables.events(s, dir).createOrReplaceTempView("q279_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ev (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q279_events WHERE event_id % 2 = 0""")
        // exact COUNT(DISTINCT) rejects, NAMING the approx alternative
        val rej = try {
          s.sql(s"""CALL $cat.system.create_mview_sql('db.adc', sql =>
            "SELECT user_id, count(DISTINCT cents) AS dc
             FROM $cat.db.ev GROUP BY user_id")""").collect()
          "no-error"
        } catch { case e: Throwable => e.getMessage }
        require(rej.contains("approx_count_distinct"),
          s"q279: exact COUNT(DISTINCT) must reject naming the " +
            s"approximate alternative, got: $rej")
        s.sql(s"""CALL $cat.system.create_mview_sql('db.adc', sql =>
          "SELECT user_id, approx_count_distinct(cents) AS dc,
             count(*) AS n
           FROM $cat.db.ev GROUP BY user_id")""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q279_events WHERE event_id % 2 = 1""")
        val r1 = s.sql(s"CALL $cat.system.refresh_mview('db.adc')")
          .collect()(0)
        require(r1.getString(1) == "incremental",
          s"q279: the insert-only delta must fold INCREMENTALLY, got $r1")
        val out = s.sql(s"""
          SELECT v.user_id, v.n,
            abs(v.dc - x.exact_dc) <= greatest(1, x.exact_dc / 20)
              AS dc_ok
          FROM $cat.db.adc v
          JOIN (SELECT user_id, count(DISTINCT cents) AS exact_dc
                FROM $cat.db.ev GROUP BY user_id) x
            ON v.user_id = x.user_id""")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        SELECT user_id, CAST(count(*) AS BIGINT) AS n, true AS dc_ok
        FROM events GROUP BY user_id""")),

    // TRANSPARENT MVIEW REWRITE (round 14): an aggregate that exactly
    // matches a registered FULLY-FRESH materialized view reads the
    // view's bucketed state table instead of re-aggregating the base —
    // without naming the view. Triple-gated in-query: (a) fresh → the
    // optimized plan MUST read the state table; (b) after a base
    // insert with no refresh → the rewrite MUST NOT fire (stale state
    // never silently answers); (c) after refresh_mview → it fires
    // again, and THAT plan produces the output the oracle replays as
    // the direct aggregate over the final base.
    QuerySpec("q280_sql_mview_rewrite",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q280_").toString
        Tables.events(s, dir).createOrReplaceTempView("q280_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.ev (
            event_id BIGINT, user_id BIGINT, cents BIGINT, pk BIGINT)
          PARTITIONED BY (pk)
          TBLPROPERTIES ('keys'='event_id', 'statsCols'='cents')""")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q280_events WHERE event_id % 2 = 0""")
        s.sql(s"""CALL $cat.system.create_mview('db.spend',
          base => 'db.ev', keys => 'user_id', measures => 'cents')""")
        val q = s"""SELECT user_id, sum(cents) AS total, count(*) AS n,
            avg(cents) AS mean
          FROM $cat.db.ev GROUP BY user_id"""
        require(s.sql(q).queryExecution.optimizedPlan.toString
            .contains("spend_state"),
          "q280: a FRESH mview must answer the aggregate transparently " +
            "(plan must read the state table)")
        s.sql(s"""INSERT INTO $cat.db.ev (event_id, user_id, cents, pk)
          SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT),
            user_id % 4
          FROM q280_events WHERE event_id % 2 = 1""")
        require(!s.sql(q).queryExecution.optimizedPlan.toString
            .contains("spend_state"),
          "q280: a STALE mview must NEVER answer transparently")
        s.sql(s"CALL $cat.system.refresh_mview('db.spend')")
        val out = s.sql(q)
        require(out.queryExecution.optimizedPlan.toString
            .contains("spend_state"),
          "q280: the refreshed mview must answer transparently again")
        val snap = out.localCheckpoint(true)
        graft.operators.Fs.deleteTree(base)
        snap
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events)
        SELECT user_id, CAST(sum(cents) AS BIGINT) AS total,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(cents) AS DOUBLE) / count(*) AS mean
        FROM e GROUP BY user_id""")),

    // HISTOGRAMS IN JOIN ESTIMATION (round 14): catalyst's
    // JoinEstimation computes equi-join cardinality from BOTH keys'
    // equi-height histograms (bin-overlap math) when present; without
    // them it prices rows·rows/max(ndv), blind to the overlap
    // fraction. Here a.k spans [0,1000) and b.k spans [990,1990) — a
    // 1% overlap NDV cannot see. Double-gated in-query like q273: the
    // histogram estimate must be ≥8× tighter than the NDV estimate AND
    // the tighter intermediate must flip the downstream join to
    // broadcast (strictly more BroadcastHashJoins than the bins=0
    // negative control). Every size scales linearly with the SF's row
    // count (b is fixed 10k rows), so the flip gates at every SF.
    QuerySpec("q281_sql_cbo_join_hist",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q281_").toString
        Tables.events(s, dir).createOrReplaceTempView("q281_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.a (id BIGINT, k BIGINT)
          TBLPROPERTIES ('keys'='id')""")
        s.sql(s"""CREATE TABLE $cat.db.b (id BIGINT, k BIGINT)
          TBLPROPERTIES ('keys'='id')""")
        s.sql(s"""CREATE TABLE $cat.db.c (id BIGINT, w BIGINT)
          TBLPROPERTIES ('keys'='id')""")
        s.sql(s"""INSERT INTO $cat.db.a
          SELECT event_id, event_id % 1000 FROM q281_events""")
        s.sql(s"""INSERT INTO $cat.db.b
          SELECT id, 990 + id % 1000 FROM range(10000)""")
        // c carries 4 SF-scaled copies (3 on non-matching id offsets):
        // big enough that it never broadcasts, so the flip can only
        // come from the INTERMEDIATE's estimate
        val n = s.sql("SELECT count(*), max(event_id) FROM q281_events")
          .collect()(0)
        val off = n.getLong(1) + 1
        s.sql(s"""INSERT INTO $cat.db.c
          SELECT event_id + $off * r.id, user_id % 7
          FROM q281_events CROSS JOIN range(4) r""")
        val q = s"""SELECT c.w, count(*) AS cnt FROM $cat.db.a a
          JOIN $cat.db.b b ON a.k = b.k
          JOIN $cat.db.c c ON a.id = c.id
          GROUP BY c.w"""
        val prevCbo = s.conf.get("spark.sql.cbo.enabled", "false")
        val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val out =
          try {
            s.conf.set("spark.sql.cbo.enabled", "true")
            s.conf.set("spark.sql.autoBroadcastJoinThreshold",
              (32L * n.getLong(0)).toString)
            def joinEstimate(): BigInt = s.sql(
              s"SELECT 1 FROM $cat.db.a a JOIN $cat.db.b b ON a.k = b.k")
              .queryExecution.optimizedPlan.collect {
                case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
                  j.stats.rowCount.getOrElse(BigInt(-1))
              }.head
            def bhjCount(): Int = "BroadcastHashJoin".r.findAllIn(
              s.sql(q).queryExecution.executedPlan.toString).length
            s.sql(s"CALL $cat.system.analyze('db.a', histogram_bins => 0)")
            s.sql(s"CALL $cat.system.analyze('db.b', histogram_bins => 0)")
            s.sql(s"CALL $cat.system.analyze('db.c', histogram_bins => 0)")
            val estNdv = joinEstimate(); val bhjNdv = bhjCount()
            s.sql(s"CALL $cat.system.analyze('db.a', histogram_bins => 64)")
            s.sql(s"CALL $cat.system.analyze('db.b', histogram_bins => 64)")
            val estHist = joinEstimate(); val bhjHist = bhjCount()
            require(estHist > 0 && estNdv > 0 && estHist * 8 <= estNdv,
              s"q281: the histogram join estimate ($estHist) must be ≥8x " +
                s"tighter than NDV's ($estNdv)")
            require(bhjHist > bhjNdv,
              s"q281: the tighter intermediate estimate must flip the " +
                s"downstream join to broadcast (ndv=$bhjNdv hist=$bhjHist)")
            s.sql(q).localCheckpoint(true)
          } finally {
            s.conf.set("spark.sql.cbo.enabled", prevCbo)
            s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
          }
        graft.operators.Fs.deleteTree(base)
        out
      },
      Some("""
        WITH a AS (SELECT event_id AS id, event_id % 1000 AS k FROM events),
        b AS (SELECT 990 + i % 1000 AS k FROM range(10000) t(i)),
        c AS (SELECT event_id AS id, user_id % 7 AS w FROM events)
        SELECT w, CAST(count(*) AS BIGINT) AS cnt
        FROM a JOIN b ON a.k = b.k JOIN c ON a.id = c.id
        GROUP BY w""")),

    // STATS AUTO-REFRESH POLICY (round 14): `analyze_after_commits=>N`
    // re-runs the last ANALYZE automatically once a data commit leaves
    // the stats N versions behind — CBO tracks continuous ingest with
    // no operator in the loop. Gated in-query: 100 analyzed rows plan
    // a broadcast join; after THREE growth commits (and ZERO manual
    // ANALYZE calls) the policy has refreshed the stats and the same
    // query must NOT broadcast the now-SF-sized table; show_stats must
    // read tier 'fresh'. Oracle replays the final join.
    QuerySpec("q282_sql_stats_policy",
      (s, dir) => {
        GraftSession.tune(s)
        val base = java.nio.file.Files.createTempDirectory("graft_q282_").toString
        Tables.events(s, dir).createOrReplaceTempView("q282_events")
        val cat = s"gcat_${java.util.UUID.randomUUID().toString.take(8)}"
          .replace("-", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", base)
        s.sql(s"""CREATE TABLE $cat.db.f (id BIGINT, v BIGINT)
          TBLPROPERTIES ('keys'='id', 'analyze_after_commits'='3')""")
        s.sql(s"""CREATE TABLE $cat.db.d (id BIGINT, w BIGINT)
          TBLPROPERTIES ('keys'='id')""")
        s.sql(s"""INSERT INTO $cat.db.d
          SELECT event_id, user_id % 5 FROM q282_events""")
        s.sql(s"CALL $cat.system.analyze('db.d')")
        s.sql(s"""INSERT INTO $cat.db.f
          SELECT event_id, event_id FROM q282_events WHERE event_id < 100""")
        s.sql(s"CALL $cat.system.analyze('db.f')") // the ONE manual analyze
        val q = s"""SELECT d.w, count(*) AS cnt FROM $cat.db.f f
          JOIN $cat.db.d d ON f.id = d.id GROUP BY d.w"""
        val nEv = s.sql("SELECT count(*) FROM q282_events").collect()(0)
          .getLong(0)
        val prevCbo = s.conf.get("spark.sql.cbo.enabled", "false")
        val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val out =
          try {
            s.conf.set("spark.sql.cbo.enabled", "true")
            // SF-scaled bar: above the 100-row estimate, below the
            // full-table estimate (~24+ bytes/row) at EVERY SF
            s.conf.set("spark.sql.autoBroadcastJoinThreshold",
              (8L * nEv).toString)
            require(s.sql(q).queryExecution.executedPlan.toString
                .contains("BroadcastHashJoin"),
              "q282: 100 analyzed rows must plan broadcast")
            // three growth commits — NO manual ANALYZE below this line
            (0 to 2).foreach { r =>
              s.sql(s"""INSERT INTO $cat.db.f
                SELECT event_id, event_id FROM q282_events
                WHERE event_id >= 100 AND event_id % 3 = $r""")
            }
            require(!s.sql(q).queryExecution.executedPlan.toString
                .contains("BroadcastHashJoin"),
              "q282: the policy must refresh the stats — the SF-sized " +
                "table may not plan broadcast off 100-row stale stats")
            val tiers = s.sql(s"CALL $cat.system.show_stats('db.f')")
              .collect().map(_.getString(12)).distinct.toSeq
            require(tiers == Seq("fresh"),
              s"q282: post-policy stats must read tier 'fresh', got $tiers")
            s.sql(q).localCheckpoint(true)
          } finally {
            s.conf.set("spark.sql.cbo.enabled", prevCbo)
            s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
          }
        graft.operators.Fs.deleteTree(base)
        out
      },
      Some("""
        SELECT user_id % 5 AS w, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id % 5"""))
  )
}
