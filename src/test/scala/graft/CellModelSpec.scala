package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CellModel, Core}

/** Cell-model semantics: nest/explode round trip on real testdata, plus
  * the empty-partition case the testdata cannot exercise (no live
  * partition has all-dead cells at any SF): the reference's `rowMapper`
  * runs after only the partition-tombstone filter
  * (`service/SSTableReader.java:79-109`), so such a partition must still
  * yield a key-only Row with zero columns.
  */
class CellModelSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

  private val cellSchema = StructType(Seq(
    StructField("key", BinaryType),
    StructField("name", BinaryType),
    StructField("value", BinaryType),
    StructField("write_time", LongType),
    StructField("kind", StringType),
    StructField("partition_deleted", BooleanType)))

  private def cell(key: String, name: String, value: String, wt: Long,
      kind: String, pdel: Boolean): Row =
    Row(key.getBytes, name.getBytes, value.getBytes, wt, kind, pdel)

  test("explode(nest) round-trips to the live flat cells") {
    val live = CellModel.liveCells(spark, sf0001)
      .selectExpr("key", "name", "value", "write_time")
    val round = CellModel.explodeCells(spark, sf0001)
    assert(round.exceptAll(live).count() === 0)
    assert(live.exceptAll(round).count() === 0)
  }

  test("all-dead live partition emits a key-only row (empty columns)") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        cell("A", "c1", "v1", 10L, "live", pdel = false),
        cell("A", "c2", "v2", 20L, "deleted", pdel = false),
        cell("B", "c1", "v1", 30L, "deleted", pdel = false),
        cell("B", "c2", "v2", 40L, "expiring", pdel = false),
        cell("C", "c1", "v1", 50L, "live", pdel = true))),
      cellSchema)
    val nested = CellModel.nestCells(df)
      .select(decode(col("key"), "UTF-8").as("k"), size(col("columns")).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // A: one live cell; B: live partition, zero live cells -> emitted
    // with empty columns; C: partition tombstone -> dropped entirely.
    assert(nested === Map("A" -> 1, "B" -> 0))
  }

  test("q04 keeps zero-live-cell partitions with empty cells_str") {
    // run the exact q04 aggregation shape over synthetic string cells
    val rows = Seq(
      ("A", "c1", "v1", 10L, "live", false),
      ("B", "c1", "v1", 30L, "deleted", false),
      ("C", "c1", "v1", 50L, "live", true))
    import spark.implicits._
    val df = rows.toDF("key", "name", "value", "write_time", "kind",
      "partition_deleted")
    val out = df.filter(!col("partition_deleted"))
      .groupBy(col("key"))
      .agg(
        array_join(transform(
          sort_array(collect_list(when(col("kind") === "live",
            struct(col("name"), col("value"), col("write_time"))))),
          c => concat_ws(":", c.getField("name"), c.getField("value"),
            c.getField("write_time"))), "|").as("cells_str"),
        count(when(col("kind") === "live", lit(1))).as("n_cells"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(out === Set(("A", "c1:v1:10", 1L), ("B", "", 0L)))
  }

  test("chunked nest bounds every Row and conserves cell counts") {
    import org.apache.spark.sql.functions.{col, sum}
    val chunked = CellModel.nestRowsChunked(spark, SparkTestSession.sf0001)
    assert(chunked.filter(col("n_cells") > CellModel.NestChunk).count() === 0)
    // only the LAST chunk of a key may be partial
    assert(chunked.filter(col("n_cells") < CellModel.NestChunk).count() <=
      chunked.select("key").distinct().count())
    val total = chunked.agg(sum(col("n_cells"))).collect()(0).getLong(0)
    assert(total === CellModel.liveCells(spark, SparkTestSession.sf0001).count())
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("queries and oracleSql keys line up") {
    // no query name defined by two modules (merging the maps would
    // silently keep one of them)
    val names = Modules.all.flatMap(_.queries.keys)
    val dupes = names.diff(names.distinct)
    assert(dupes.isEmpty, s"query names defined twice: $dupes")
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle-only keys: ${o.diff(q)}")
    // the bench's fixture:* rows, in build (dependency) order
    assert(Modules.all.flatMap(_.fixtureBuilds.map(_._1)) === Seq(
      "fixture:sink_nested", "fixture:sink_ranged",
      "fixture:sink_generations", "fixture:sink_optimized",
      "fixture:sink_reexport", "fixture:sink_vacuumed",
      "fixture:sink_evolved", "fixture:sink_layout",
      "fixture:release_export", "fixture:index_2i",
      "fixture:centroids_k8", "fixture:pq_codebooks",
      "fixture:ivfpq_residual_books",
      "fixture:bucketed_tables", "fixture:copurchase_edges",
      "fixture:minhash_pairs", "fixture:dup_clusters",
      "fixture:ccnet_buckets", "fixture:eval_slate", "fixture:ngram_tables",
      "fixture:hybrid_rrf", "fixture:classifier_train",
      "fixture:boiler_inventory", "fixture:mixture_rates"))
  }

  test("q182 tombstone audit matches a local replay of counts and verdicts") {
    val cells = CellModel.cellStrings(spark, SparkTestSession.sf0001)
      .filter(!col("partition_deleted"))
      .select("key", "kind").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = cells.groupBy(_._1).map { case (k, cs) =>
      val tombs = cs.count(_._2 == "deleted").toLong
      k -> (cs.length.toLong, cs.count(_._2 == "live").toLong, tombs,
        if (tombs >= 20) "abort" else if (tombs >= 12) "warn" else "ok")
    }
    val got = Core.tombstoneAudit(spark, SparkTestSession.sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got === expected)
    // partition-tombstoned keys never appear: their read touches only
    // the partition deletion marker
    assert(!got.keySet.exists(_.toLong % 50 == 0))
  }

  test("q186 read repair matches a local replica reconcile; flows both ways") {
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val truth = CellModel.liveCellStrings(spark, SparkTestSession.sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    def replica(lostSalt: String, lostMod: Long, lostRes: Long,
        staleSalt: String, staleMod: Long, staleRes: Long, rb: Long) =
      truth.filter(c => h60(lostSalt + c._2) % lostMod != lostRes)
        .map { c =>
          val wt = if (h60(staleSalt + c._2) % staleMod == staleRes)
            c._4 - rb else c._4
          (c._1, c._2) -> (c._3, wt)
        }.toMap
    val a = replica("lostA:", 97, 3, "staleA:", 101, 5, 1000L)
    val b = replica("lostB:", 89, 7, "staleB:", 103, 11, 2000L)
    val expected = (a.keySet ++ b.keySet).flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some((v, w))) => Some((k._1, k._2, "a", v, w))
        case (Some((v, w)), None) => Some((k._1, k._2, "b", v, w))
        case (Some((_, wa)), Some((v, wb))) if wa < wb =>
          Some((k._1, k._2, "a", v, wb))
        case (Some((v, wa)), Some((_, wb))) if wb < wa =>
          Some((k._1, k._2, "b", v, wa))
        case _ => None
      }
    }
    val got = Core.readRepair(spark, SparkTestSession.sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    assert(got === expected)
    // divergence is bidirectional by construction — repairs hit BOTH
    // replicas, and something actually diverged
    assert(got.exists(_._3 == "a") && got.exists(_._3 == "b"))
  }
}
