package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.{Extended, Relational}

class RelationalSpec extends AnyFunSuite with SharedSpark {

  test("dq checks: ledger covers every rule; planted violations are counted") {
    import graft.operators.QualityChecks
    val rows = QualityChecks.dqChecks(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSet == Set(
      "events.value_non_negative", "events.user_id_complete",
      "documents.text_nonempty", "documents.n_chars_consistent",
      "embeddings.dim_64", "documents.doc_id_unique", "orders.custkey_in_customer"))
    val nDocs = Tables.documents(spark, sfDir).count()
    rows.filter(_.getString(0).startsWith("documents.")).foreach { r =>
      assert(r.getLong(1) == nDocs, s"n_checked mismatch: $r")
    }
    rows.foreach(r => assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1)))
    // planted violations: the single-scan rule evaluator counts them exactly
    import spark.implicits._
    val planted = Seq((1L, -5.0), (2L, 3.0), (3L, -1.0)).toDF("id", "v")
    val ledger = QualityChecks.tableRules(planted, Seq(
      "v_non_negative" -> (col("v") < 0),
      "id_complete" -> col("id").isNull)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ledger("v_non_negative") == (3L, 2L))
    assert(ledger("id_complete") == (3L, 0L))
  }

  test("full outer churn covers all three null regions consistently") {
    val rows = Relational.fullOuterChurn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    rows.foreach { case (ck, a, b, status) =>
      status match {
        case "gained"   => assert(a == 0L && b > 0L, s"custkey $ck")
        case "churned"  => assert(a > 0L && b == 0L, s"custkey $ck")
        case "retained" => assert(a > 0L && b > 0L, s"custkey $ck")
      }
    }
    // row set = union of the two yearly aggregates, computed independently
    def keys(y: Int) = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === y)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val (k95, k96) = (keys(1995), keys(1996))
    assert(rows.map(_._1).toSet == (k95 ++ k96))
    assert(rows.count(_._4 == "churned") == (k95 -- k96).size)
    assert(rows.count(_._4 == "gained") == (k96 -- k95).size)
    assert(rows.exists(_._4 == "gained") && rows.exists(_._4 == "churned"),
      "fixture should exercise both unmatched sides")
  }

  test("grouping sets emit per-status, per-priority and grand-total groups from one input pass") {
    val rows = Relational.groupingSetsAgg(spark, sfDir).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getInt(2), r.getInt(3), r.getLong(4)))
    val total = Tables.orders(spark, sfDir).count()
    // grouping flag = 1 exactly when the column is rolled up (NULL here:
    // o_orderstatus/o_orderpriority are non-null in TPC-H data)
    rows.foreach { case (s, p, gs, gp, _) =>
      assert((s.isEmpty) == (gs == 1) && (p.isEmpty) == (gp == 1), s"($s,$p,$gs,$gp)")
      assert(gs == 1 || gp == 1, "every set rolls up at least one column")
    }
    val statusRows = rows.filter(r => r._1.nonEmpty)
    val prioRows = rows.filter(r => r._2.nonEmpty)
    val grand = rows.filter(r => r._1.isEmpty && r._2.isEmpty)
    assert(statusRows.map(_._5).sum == total)
    assert(prioRows.map(_._5).sum == total)
    assert(grand.map(_._5).toSeq == Seq(total))
  }

  test("range frame counts exactly the events in the trailing 5s value window") {
    import org.apache.spark.sql.functions.col
    val sample = graft.operators.Grid.powerReadings(spark, sfDir)
      .select(col("event_id").cast("string"), col("appliance_id").cast("string"), col("ts_ns"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val byApp = sample.groupBy(_._2)
    val got = graft.operators.Extended.rangeMovingAgg(spark, sfDir)
      .select(col("event_id").cast("string"), col("n_5s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byApp.view.take(3).foreach { case (_, evs) =>
      evs.foreach { case (id, _, t) =>
        val expected = evs.count { case (_, _, u) => u >= t - 5000000000L && u <= t }
        assert(got(id) == expected.toLong, s"event $id")
      }
    }
  }

  test("anomaly flags fire on at most ~1% of readings, against each appliance's own p99") {
    val rows = Extended.anomalyFlags(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (app, n, p99, anomalies, maxCents) =>
      // strictly-above-p99 flags at most ~1% of the mass (interpolated
      // percentile: exact rate depends on ties, never exceeds 1% + 1 row)
      assert(anomalies <= n / 100 + 1, s"$app flags $anomalies of $n")
      assert(p99 <= maxCents.toDouble, app)
      assert((maxCents > p99) == (anomalies > 0), s"$app max-vs-p99 consistency")
    }
    assert(rows.exists(_._4 > 0), "fixture should contain some anomalies")
  }

  test("approx quantile sketch lands inside the exact p45-p55 band everywhere") {
    val rows = Extended.approxQuantiles(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"${r.getString(0)}: sketch outside rank-error band")
      assert(r.getLong(1) > 0)
    }
  }
  test("scd2 merge closes exactly the updated keys and appends their new version") {
    val rows = Relational.scd2Merge(spark, sfDir).collect()
    val byKey = rows.groupBy(_.getLong(0))
    byKey.foreach { case (k, vs) =>
      if (k % 7 == 0) {
        assert(vs.length == 2, s"updated key $k must have 2 versions")
        val closed = vs.find(_.getLong(2) == 0L).get
        val open = vs.find(_.getLong(2) == 1L).get
        assert(!closed.isNullAt(3) && closed.getLong(3) == 1L, s"old version of $k not closed")
        assert(open.isNullAt(3), s"new version of $k not open-ended")
        assert(open.getDouble(1) == closed.getDouble(1) + 100.0)
      } else {
        assert(vs.length == 1 && vs.head.isNullAt(3), s"untouched key $k must stay open")
      }
    }
  }

  test("order overlap matches a driver-side reference for one customer") {
    val rows = Relational.orderOverlap(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val spans = Tables.orders(spark, sfDir)
      .join(
        Tables.lineitem(spark, sfDir)
          .groupBy("l_orderkey").agg(max("l_shipdate").as("e")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate").as("s"), col("e"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime](2), r.getAs[java.time.LocalDateTime](3)))
    val byCust = spans.groupBy(_._1)
    val expected = byCust.view.mapValues { ss =>
      (for {
        a <- ss; b <- ss
        if a._2 < b._2 && !a._3.isAfter(b._4) && !b._3.isAfter(a._4)
      } yield 1).size.toLong
    }.toMap.filter(_._2 > 0)
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }


  test("star join pre-aggregated form equals the join-then-aggregate form (r17)") {
    // the size gate reads Spark's estimate, file bytes × fileCompressionFactor:
    // a huge factor keeps orders from broadcasting, which selects the
    // pre-aggregated shape (PlanShapeSpec pins the shape itself)
    def rows(compressionFactor: String) = {
      val key = "spark.sql.sources.fileCompressionFactor"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, compressionFactor)
      try Relational.starJoin(spark, sfDir).collect().map(_.toSeq).toSeq
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    assert(rows("100000") == rows("1.0"))
  }

}
