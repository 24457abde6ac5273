package graft.pipeline

import org.apache.spark.sql.functions._

import scala.util.Random

import graft.SparkSuite

/** Property tests for the tricky semantics called out in SURVEY.md §7.5:
  * gaps-and-islands streak detection, unpivot row-count invariants, and
  * last-wins dedup (Q-2) — each checked against an independent plain-Scala
  * reference implementation over seeded random inputs.
  */
class SemanticsPropertySpec extends SparkSuite {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private def gamesDf(wls: Seq[String]): org.apache.spark.sql.DataFrame = {
    val schema = StructType(Seq(
      StructField("season", StringType), StructField("team_abbreviation", StringType),
      StructField("game_date", StringType), StructField("matchup", StringType),
      StructField("wl", StringType), StructField("plus_minus", StringType)
    ))
    val rows = wls.zipWithIndex.map { case (wl, i) =>
      Row("2024", "SAS", f"2024-11-${i + 1}%02dT00:00:00", "SAS vs. LAL", wl,
        (if (wl == "W") 1.0 + i else -1.0 - i).toString)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** independent reference: longest run of `target` in the sequence. */
  private def longestRun(wls: Seq[String], target: String): Int = {
    var best = 0; var cur = 0
    wls.foreach { w =>
      if (w == target) { cur += 1; best = math.max(best, cur) }
      else cur = 0
    }
    best
  }

  test("streaks: gaps-and-islands equals longest-run reference on random W/L") {
    val rnd = new Random(42)
    (1 to 8).foreach { trial =>
      val n = 5 + rnd.nextInt(30)
      val wls = Seq.fill(n)(if (rnd.nextBoolean()) "W" else "L")
      val out = GoldModels.streaksAndRivals(gamesDf(wls)).collect()(0)
      val expW = longestRun(wls, "W")
      val expL = longestRun(wls, "L")
      if (expW > 0)
        assert(out.getAs[Long]("best_winning_streak_length") === expW.toLong,
          s"trial $trial wls=$wls")
      else assert(out.isNullAt(out.fieldIndex("best_winning_streak_length")))
      if (expL > 0)
        assert(out.getAs[Long]("worst_losing_streak_length") === expL.toLong,
          s"trial $trial wls=$wls")
      else assert(out.isNullAt(out.fieldIndex("worst_losing_streak_length")))
    }
  }

  test("streaks: all-wins and all-losses edge cases (Q-6 empty subqueries)") {
    val allW = GoldModels.streaksAndRivals(gamesDf(Seq.fill(5)("W"))).collect()(0)
    assert(allW.getAs[Long]("best_winning_streak_length") === 5L)
    assert(allW.isNullAt(allW.fieldIndex("worst_losing_streak_length")))
    // biggest_loss is the global MIN(plus_minus) — with all wins it is the
    // narrowest win, not NULL (streaks_and_rivals.sql:78-90)
    assert(allW.getAs[Double]("biggest_loss_margin") === 1.0)
    val allL = GoldModels.streaksAndRivals(gamesDf(Seq.fill(4)("L"))).collect()(0)
    assert(allL.getAs[Long]("worst_losing_streak_length") === 4L)
    assert(allL.isNullAt(allL.fieldIndex("best_winning_streak_length")))
  }

  test("unpivot invariant: contributions rows = 7 x distinct players") {
    val rnd = new Random(7)
    val schema = StructType(
      Seq("player_id", "player_name", "team_abbreviation", "fg_pct", "fg3_pct",
        "reb", "tov", "stl", "blk", "plus_minus").map(StructField(_, StringType)))
    (1 to 4).foreach { _ =>
      val nPlayers = 1 + rnd.nextInt(10)
      val rows = (1 to nPlayers).flatMap { p =>
        (1 to 1 + rnd.nextInt(4)).map { g =>
          Row(p.toString, s"P$p", "SAS", "0.5", "0.3",
            (p + g).toString, "2", "1", "1", (p - g).toString)
        }
      }
      val df = spark.createDataFrame(rows.asJava, schema)
      val out = GoldModels.spursPlayerContributionsUnpivoted(df)
      assert(out.count() === nPlayers.toLong * 7)
    }
  }

  test("last-wins dedup (Q-2): row_number desc keeps the latest record") {
    val rnd = new Random(13)
    val schema = StructType(Seq(
      StructField("player_id", IntegerType), StructField("season", IntegerType),
      StructField("v", IntegerType)))
    (1 to 4).foreach { _ =>
      val rows = (1 to 20).map { i =>
        Row(1 + rnd.nextInt(5), 2018 + rnd.nextInt(6), i)
      }
      val df = spark.createDataFrame(rows.asJava, schema)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("player_id"))
        .orderBy(col("season").desc, col("v").desc)
      val deduped = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
      // independent reference: per key, max (season, v)
      val expected = rows
        .groupBy(_.getInt(0))
        .map { case (k, rs) => k -> rs.map(r => (r.getInt(1), r.getInt(2))).max }
      assert(deduped === expected)
    }
  }

  test("simhash banding == brute-force hamming on random word-soup corpora") {
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    (1 to 3).foreach { seed =>
      val rnd = new Random(seed)
      val docs = (0L until 40L).map { id =>
        (id, Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val banded = graft.operators.Dedup
        .simhashHammingPairs(docs, "doc_id", "text", maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sigs = graft.operators.Dedup.simhash16(docs, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val brute = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)).toLong if h <= 3
      } yield (a, b, h)).toSet
      assert(banded === brute, s"seed=$seed")
    }
  }

  test("scorecard partials: any partition of the docs merges to the one-shot answer") {
    import spark.implicits._
    import graft.operators.Corpus
    val vocab = Vector("red", "green", "blue", "cyan", "teal")
    val rnd = new Random(7)
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        s"src${i % 4}")
    }
    val full = docs.toDF("doc_id", "text", "source")
    val lm = Corpus.unigramLm(full, "text")
    val oneShot = Corpus.scorecardFromPartials(
      Corpus.lmPartialScorecard(full, lm, "text", "source"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    (1 to 3).foreach { seed =>
      val r2 = new Random(seed)
      val parts = docs.groupBy(_ => r2.nextInt(3)).values.toSeq // random 3-way split
      val merged = Corpus.scorecardFromPartials(
        parts.map(p => Corpus.lmPartialScorecard(p.toDF("doc_id", "text", "source"),
          lm, "text", "source")).reduce(_ unionAll _))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(merged === oneShot, s"seed=$seed") // bit-identical, any partitioning
    }
  }

  test("sketch + manifest partials: any partition of the rows merges to the one-shot answer") {
    import spark.implicits._
    import graft.operators.Corpus
    val rnd = new Random(11)
    val docs = (0 until 80).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(12))("w" + rnd.nextInt(9)).mkString(" "))
    }
    val full = docs.toDF("doc_id", "text")
    val sketchShot = Corpus.histogramSketch(
        full.select(length(col("text")).cast("long").as("v")), col("v"), 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val manifestShot = Corpus.shardManifest(full, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    (1 to 3).foreach { seed =>
      val r2 = new Random(seed)
      val parts = docs.groupBy(_ => r2.nextInt(4)).values.toSeq
      val sketchMerged = Corpus.mergeHistograms(
          parts.map(p => Corpus.histogramSketch(
            p.toDF("doc_id", "text").select(length(col("text")).cast("long").as("v")),
            col("v"), 8L)).reduce(_ unionAll _))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(sketchMerged === sketchShot, s"sketch seed=$seed")
      val manifestMerged = Corpus.manifestFromPartials(
          parts.map(p => Corpus.shardManifest(p.toDF("doc_id", "text"), "doc_id", "text", 4))
            .reduce(_ unionAll _))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(manifestMerged === manifestShot, s"manifest seed=$seed")
    }
  }
}
