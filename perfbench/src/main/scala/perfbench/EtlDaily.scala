package perfbench

import java.sql.Timestamp

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.model.{Genre, Recording, Torrent}
import graft.operators.{GraftTable, KeyedTable}
import graft.pipeline.{Pipelines, Run}
import graft.sources.{LenientCsv, OtrParsers}

/** The reference's daily ETL tick over generated inputs: the same public
  * calls as `graft.pipeline.Run.tick`, in the same order, reading the
  * toplist and tracker pages of the tick's own day instead of the
  * checked-in fixtures. Set-up is the first-deployment backfill tick and
  * warm-up ticks on a separate, empty table set; the timed part is each
  * following day's tick, then the same tick again (the guards make a
  * repeated tick a no-op at the state level).
  */
object EtlDaily {
  private val keys = Seq("PartitionKey", "RowKey")

  def run(ctx: Ctx): Unit = {
    val spec = ctx.spec.get("inputs")
    val base = ctx.str(spec, "tables_dir")
    val in = ctx.str(spec, "in_dir")
    val tables = Seq("genres", "recordings", "top", "torrents")
    def fingerprints = ctx.unrecorded(tables.map(n => fingerprint(table(ctx, base, n).read)))
    val before, after = new java.util.ArrayList[String]()
    ctx.list(spec, "ticks").foreach { t =>
      val timed = ctx.str(t, "phase") == "timed"
      val dir = ctx.str(t, "tables_dir")
      if (timed && ctx.ops.isEmpty) ctx.startTimed()
      // a repeated tick re-runs the previous day: it must change no content
      val repeat = t.has("repeat")
      if (timed && repeat) before.add(fingerprints.mkString(" "))
      if (timed)
        ctx.timeOp(if (repeat) "repeat" else "tick", ctx.str(t, "day"))(tick(ctx, dir, in, t))
      else tick(ctx, dir, in, t)
      if (timed && repeat) after.add(fingerprints.mkString(" "))
    }
    ctx.endTimed()
    ctx.result.put("fingerprints_before", before)
    ctx.result.put("fingerprints_after", after)

    ctx.tracer.recording = false
    val dumpCols = Map(
      "genres" -> Seq("PartitionKey", "RowKey", "Genre_Id", "Genre"),
      "recordings" -> Seq("PartitionKey", "RowKey", "genre", "titel"),
      "top" -> Seq("PartitionKey", "RowKey"),
      "torrents" -> Seq("PartitionKey", "RowKey", "TorrentLink"))
    tables.foreach { n =>
      val df = table(ctx, base, n).read.select(dumpCols(n).map(col): _*)
      Json.writeRows(ctx.path(s"dump_$n.jsonl"), df.collect().toSeq, df.schema)
    }
  }

  private def fingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  private def table(ctx: Ctx, base: String, name: String): GraftTable =
    new GraftTable(ctx.spark, s"$base/$name", keys, "PartitionKey")

  private def chunks(ctx: Ctx, path: String) =
    ctx.spark.read.text(path).withColumnRenamed("value", "chunk")
      .select("chunk").as(Encoders.STRING)

  /** Traced runs time the parse alone, materialised by a collect, before
    * the call that consumes it; untraced runs parse only inside that call.
    * The span's own work is extra to the tick: the per-layer figures take
    * it out of the tick's totals.
    */
  private def parse(ctx: Ctx, name: String, df: DataFrame): Unit =
    if (ctx.tracer.enabled && ctx.tracer.recording) {
      val rows = ctx.tracer.span(name)(df.collect().length)
      ctx.tracer.note("rows", rows)
    }

  private def tick(ctx: Ctx, base: String, in: String, t: JsonNode): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val startdate = Timestamp.valueOf(ctx.str(t, "startdate"))

    val genresT = table(ctx, base, "genres").createIfNotExists(Genre.schema)
    val genresCsv = LenientCsv.read(spark, s"$in/genres.csv")
    tr.span("pipeline.import") {
      genresT.importOnce(Run.conform(Pipelines.genresLoad(genresCsv), Genre.schema))
    }
    val genres = genresT.read

    // E1 — per-day EPG import behind the reference's per-day guard
    val recsT = table(ctx, base, "recordings").createIfNotExists(Recording.schema)
    ctx.list(t, "epg_days").map(_.asText).foreach { day =>
      val present = tr.span("pipeline.guard") {
        KeyedTable.exists(recsT.read.filter(col("PartitionKey") === day))
      }
      if (!present) {
        val recs = Run.conform(
          Pipelines.epgRecords(LenientCsv.read(spark, s"$in/epg_$day.csv"), genres),
          Recording.schema)
        parse(ctx, "sources.csv_parse", recs)
        tr.span("pipeline.import") {
          tr.span("table.upsert", s"$base/recordings") {
            recsT.upsertReplace(recs, tiebreak = Seq("beginn", "titel", "downloadlink"))
          }
        }
      }
    }

    // E2 — toplist refinement
    val topT = table(ctx, base, "top").createIfNotExists(Recording.schema)
    val toplist = OtrParsers.parseToplist(chunks(ctx, s"$in/${ctx.str(t, "toplist")}"))
    parse(ctx, "sources.page_parse", toplist)
    tr.span("pipeline.top") {
      val kept = toplist.filter(col("rating").isin("sehr hoch", "hoch"))
      val rekeyed = recsT.read
        .join(kept.select("PartitionKey", "RowKey"), keys, "left_semi")
        .withColumn("PartitionKey", lit("top"))
      tr.span("table.insert_if_absent", s"$base/top") {
        topT.insertIfAbsent(Run.conform(rekeyed, Recording.schema))
      }
    }

    // E3 — torrent match, upsert and cascade delete
    val torrT = table(ctx, base, "torrents").createIfNotExists(Torrent.schema)
    val tracker = OtrParsers.parseTracker(chunks(ctx, s"$in/${ctx.str(t, "tracker")}"))
    parse(ctx, "sources.page_parse", tracker)
    val (matched, surviving) = Pipelines.torrentMatch(tracker, topT.read, startdate)
    tr.span("pipeline.torrent") {
      tr.span("table.upsert", s"$base/torrents") {
        torrT.upsertReplace(Run.conform(matched, Torrent.schema), tiebreak = Seq("TorrentLink"))
      }
    }
    tr.span("pipeline.cascade") {
      val (doomedTops, doomedTorrents) =
        Pipelines.cascadeDelete(topT.read, surviving, torrT.read)
      val dTops = doomedTops.localCheckpoint(true)
      val dTorr = doomedTorrents.localCheckpoint(true)
      tr.span("table.delete", s"$base/top")(topT.deleteByKeys(dTops))
      tr.span("table.delete", s"$base/torrents")(torrT.deleteByKeys(dTorr))
      dTops.unpersist(); dTorr.unpersist()
    }
    ()
  }
}
