package graft

import org.apache.spark.sql.functions._

import graft.etl.{Medallion, SilverMobility}

/** Partition-replace / append semantics against independently computed
  * expectations: a dynamic overwrite that silently appended (duplicate
  * rows) or truncated the table (lost partitions) fails these.
  */
class MedallionSpec extends SparkSpec {

  test("ivm signed-delta merge == direct recompute of the final state") {
    import org.apache.spark.sql.functions._
    val got = graft.etl.Medallion.ivmSigned(spark, sfTiny).collect()
      .map(r => r.getAs[String]("priority") ->
        (r.getAs[Long]("n"), r.getAs[Long]("tot_cents"))).toMap
    // the final state, computed directly (no delta algebra)
    val want = Tables.orders(spark, sfTiny)
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        year(col("o_orderdate")).as("yr"))
      .filter(col("yr") >= 1998 ||
        (col("yr") < 1998 && col("o_orderkey") % 37 =!= 0))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("tot"))
      .collect()
      .map(r => r.getAs[String]("priority") ->
        (r.getAs[Long]("n"), r.getAs[Long]("tot"))).toMap
    assert(got == want)
  }

  test("dynamic partition overwrite replaces exactly one partition; append adds one") {
    val silver = SilverMobility.fromEvents(spark, sfTiny).cache()
    val perDate = silver.groupBy(col("date"))
      .agg(count(lit(1)).as("n"), sum(col("trips")).as("s"))
      .collect()
      .map(r => r.getDate(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val dMin = perDate.keys.minBy(_.getTime)
    val dMax = perDate.keys.maxBy(_.getTime)
    val dNew = java.sql.Date.valueOf(dMax.toLocalDate.plusDays(1))

    // the session stays on its default (static) mode: the asserts below
    // then only pass if the per-write dynamic option took effect, and
    // the call must leave the session conf exactly as it found it
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    val out = Medallion.partitionReplace(spark, sfTiny).collect()
      .map(r => r.getDate(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(spark.conf.getOption(modeKey) == modeBefore,
      "partitionReplace changed the session's partitionOverwriteMode")

    assert(out.size == perDate.size + 1, "exactly one new partition expected")
    // replaced partition: same row count (no duplicate append), doubled sum
    assert(out(dMin)._1 == perDate(dMin)._1, "dMin row count changed — overwrite duplicated or lost rows")
    assert(math.abs(out(dMin)._2 - BigDecimal(perDate(dMin)._2 * 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-6)
    // appended partition: dMin's rows at half weight
    assert(out(dNew)._1 == perDate(dMin)._1)
    // untouched partitions: bit-identical aggregates
    perDate.keys.filterNot(_ == dMin).foreach { d =>
      assert(out(d)._1 == perDate(d)._1, s"partition $d row count changed")
    }
    silver.unpersist()
  }

  test("compaction reduces file count without changing content") {
    val out = Medallion.compactTable(spark, sfTiny)
    // content proof is the oracle's job; here pin the maintenance claim:
    // 48 writer files became ceil(bytes/target) files, and every row has
    // the files_reduced contract bit set
    assert(out.collect().forall(_.getAs[Boolean]("files_reduced")))
    val (before, after) = Medallion.compactCounts(spark, sfTiny)
    assert(before == 48, s"fragmented write should leave 48 files, got $before")
    assert(after < before, s"compaction did not reduce files: $before -> $after")
  }

  test("snapshot versions are immutable and the pointer survives a missing file") {
    import spark.implicits._
    val base = s"${Medallion.warehouseBase}/test/snap"
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)

    assert(Medallion.snapshotWrite(spark, base, Seq((1, "a")).toDF("k", "x")) == 1)
    assert(Medallion.snapshotWrite(spark, base, Seq((2, "b")).toDF("k", "x")) == 2)
    // pinned read sees the OLD generation untouched by the new write
    assert(Medallion.snapshotRead(spark, base, Some(1))
      .collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(Medallion.snapshotRead(spark, base)
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    // pointer lost mid-flip: directory-listing fallback still resolves
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/_LATEST"), false)
    assert(Medallion.latestVersion(spark, base).contains(2))
    assert(Medallion.snapshotRead(spark, base)
      .collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("snapshot optimistic concurrency: two interleaved writers, one wins, no lost update") {
    import spark.implicits._
    val base = s"${Medallion.warehouseBase}/test/snap_occ"
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)

    // generation 1: the shared starting state both writers read
    Medallion.snapshotWrite(spark, base, Seq((1, "base")).toDF("k", "x"))
    val readA = Medallion.latestVersion(spark, base)
    val readB = Medallion.latestVersion(spark, base) // B reads the SAME gen
    assert(readA.contains(1) && readB.contains(1))

    // writer A commits first: its write = state-it-read + its row
    def withRow(basedOn: Option[Int], k: Int, x: String) = {
      val cur = Medallion.snapshotRead(spark, base, basedOn)
      cur.unionByName(Seq((k, x)).toDF("k", "x"))
    }
    assert(Medallion.snapshotCommit(spark, base,
      withRow(readA, 2, "from_A"), readA) == 2)

    // writer B commits against its STALE read: must lose VISIBLY —
    // blindly applying it would drop A's row (the lost update)
    val conflict = intercept[Medallion.SnapshotConflict] {
      Medallion.snapshotCommit(spark, base, withRow(readB, 3, "from_B"), readB)
    }
    assert(conflict.expected.contains(1) && conflict.found.contains(2))
    // the loser left no half-committed generation behind: pointer and
    // table still read A's commit, no staging orphans
    assert(Medallion.latestVersion(spark, base).contains(2))
    assert(fs.listStatus(p).map(_.getPath.getName)
      .forall(n => !n.startsWith("_staged_")), "loser staging must be cleaned")
    assert(Medallion.snapshotRead(spark, base)
      .collect().map(_.getInt(0)).toSet == Set(1, 2))

    // B retries through the standard loop: re-derives from the CURRENT
    // state, so the final table carries BOTH writers' rows
    assert(Medallion.snapshotCommitRetry(spark, base,
      basedOn => withRow(basedOn, 3, "from_B")) == 3)
    assert(Medallion.snapshotRead(spark, base)
      .collect().map(_.getInt(0)).toSet == Set(1, 2, 3),
      "after retry no update may be lost")

    // claim-file arbiter: even with an EQUAL basedOn, the second
    // claimant of the same generation loses (the pre-check race window)
    val cur = Medallion.latestVersion(spark, base)
    val claim = new org.apache.hadoop.fs.Path(s"$base/v${cur.get + 1}._claim")
    val out = fs.create(claim, false) // an in-flight rival's claim
    out.write("rival".getBytes("UTF-8")); out.close()
    intercept[Medallion.SnapshotConflict] {
      Medallion.snapshotCommit(spark, base, withRow(cur, 4, "late"), cur)
    }
    assert(Medallion.latestVersion(spark, base) == cur,
      "a lost claim race must not move the pointer")

    // the orphan claim has WEDGED the table (every claimant of gen 4
    // now loses); the janitor reclaims it past the grace and commits
    // flow again — but a fresh claim inside the grace is left alone
    assert(Medallion.snapshotRecover(spark, base, graceMs = 3600000L).isEmpty,
      "a claim inside the grace period must survive the janitor")
    assert(Medallion.snapshotRecover(spark, base, graceMs = 0L) == Seq(4))
    assert(Medallion.snapshotCommitRetry(spark, base,
      basedOn => withRow(basedOn, 4, "late")) == 4)
    assert(Medallion.snapshotRead(spark, base)
      .collect().map(_.getInt(0)).toSet == Set(1, 2, 3, 4))
    // committed generations' claims are NOT orphans: nothing to reclaim
    assert(Medallion.snapshotRecover(spark, base, graceMs = 0L).isEmpty)
  }

  test("snapshot vacuum drops old versions but never the pointer target") {
    import spark.implicits._
    val base = s"${Medallion.warehouseBase}/test/snapvac"
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    (1 to 3).foreach(i =>
      Medallion.snapshotWrite(spark, base, Seq((i, "x")).toDF("k", "x")))

    assert(Medallion.snapshotVacuum(spark, base, keep = 1) == Seq(1, 2))
    assert(Medallion.snapshotRead(spark, base)
      .collect().map(_.getInt(0)).toSeq == Seq(3))
    intercept[Exception](
      Medallion.snapshotRead(spark, base, Some(1)).collect())
    // a vacuum that would drop everything still keeps the pointer target
    assert(Medallion.snapshotVacuum(spark, base, keep = 1).isEmpty)
    assert(Medallion.snapshotRead(spark, base)
      .collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("snapshot CDC diff classifies every key into the right class") {
    val keys = Tables.customer(spark, sfTiny)
      .select(col("c_custkey")).collect().map(_.getLong(0))
    // analytic expectations from the generation mods (11: membership,
    // 7: balance correction)
    val expect = Map(
      "insert" -> keys.count(k => k % 11 == 3 && k % 11 != 7),
      "delete" -> keys.count(k => k % 11 == 7 && k % 11 != 3),
      "update" -> keys.count(k => k % 11 != 3 && k % 11 != 7 && k % 7 == 0),
      "unchanged" -> keys.count(k => k % 11 != 3 && k % 11 != 7 && k % 7 != 0))
    val got = Medallion.snapshotDiff(spark, sfTiny).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect.map { case (k, v) => k -> v.toLong },
      s"got $got, want $expect")
  }

  test("cdc->scd2: history's open version reconciles with the LWW snapshot") {
    val rows = Medallion.cdcScd2(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val uid = r.getAs[Long]("user_id")
      // the entire point of the composition: two independent
      // algorithms (versioned history vs aggregate+join-back LWW)
      // must agree on current state, null-safely, for every key
      assert(r.getAs[Boolean]("cdc_match"), s"user $uid: history != snapshot")
      // a key's history can't close more versions than it opened + 1
      // run of tombstones each
      assert(r.getAs[Long]("n_versions") >= (if (r.isNullAt(r.fieldIndex("current_cents"))) 0L else 1L))
      assert(r.getAs[Long]("pit_lsn") <= r.getAs[Long]("last_lsn"))
      // point-in-time value, when present, comes from a version that
      // existed at pit_lsn — recheck against the raw log driver-side
      // for a couple of keys below
    }
    // driver-side witness on the 3 busiest keys: replay the log
    val chg = Tables.events(spark, sfTiny)
      .selectExpr("user_id", "event_id AS lsn",
        "CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op",
        "CASE WHEN event_type = 'error' THEN CAST(NULL AS BIGINT) " +
          "ELSE CAST(round(value * 100) AS BIGINT) END AS v_cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .groupBy(_._1)
    val busiest = chg.toSeq.sortBy(-_._2.length).take(3).map(_._1)
    val byUser = rows.map(r => r.getAs[Long]("user_id") -> r).toMap
    busiest.foreach { uid =>
      val log = chg(uid).sortBy(_._2)
      // replay: value in force at any lsn = payload of the last U at or
      // before it, unless a D intervened after that U
      def valueAt(p: Long): Option[Long] = {
        val upto = log.takeWhile(_._2 <= p)
        upto.lastOption.flatMap { _ =>
          val lastOp = upto.last
          if (lastOp._3 == "D") None
          else upto.reverse.find(_._3 == "U").flatMap(_._4)
        }
      }
      val r = byUser(uid)
      val pit = r.getAs[Long]("pit_lsn")
      val want = valueAt(pit)
      val gotPit = if (r.isNullAt(r.fieldIndex("pit_cents"))) None
        else Some(r.getAs[Long]("pit_cents"))
      assert(gotPit == want, s"user $uid pit@$pit: $gotPit != $want")
      val wantCur = valueAt(log.last._2)
      val gotCur = if (r.isNullAt(r.fieldIndex("current_cents"))) None
        else Some(r.getAs[Long]("current_cents"))
      assert(gotCur == wantCur, s"user $uid current: $gotCur != $wantCur")
    }
  }

  test("wap: failed audit leaves zero trace; passed audit publishes atomically") {
    import spark.implicits._
    val base = s"${Medallion.warehouseBase}/test/wap_spec"
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(basePath, true)

    val goodDf = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val badDf = Seq((1L, -5L)).toDF("k", "v")
    val positive: Seq[org.apache.spark.sql.DataFrame => Boolean] =
      Seq(df => df.filter(col("v") <= 0).count() == 0)

    // bad candidate: audited against the STAGED files, then discarded
    val (p1, n1, ok1) = Medallion.wapCommit(spark, base, badDf, positive)
    assert(p1 == 0 && n1 == 1 && !ok1)
    assert(Medallion.latestVersion(spark, base).isEmpty,
      "failed WAP moved the pointer")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/v1")),
      "failed WAP left its generation behind")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/v1._claim")),
      "failed WAP left its claim behind (the table would wedge)")

    // good candidate: same generation number is reusable, publish flips
    val (p2, n2, ok2) = Medallion.wapCommit(spark, base, goodDf, positive)
    assert(p2 == 1 && n2 == 1 && ok2)
    assert(Medallion.latestVersion(spark, base).contains(1))
    assert(Medallion.snapshotRead(spark, base).count() == 2L)
  }

  test("delete vectors: MOR read equals the driver-side eager delete") {
    val got = Medallion.deleteVectors(spark, sfTiny).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
    // eager (copy-on-write) replay: apply both delete sources to the
    // positioned base driver-side, then diff against the MOR readout
    val orders = Tables.orders(spark, sfTiny)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gdpr = Tables.customer(spark, sfTiny)
      .select(col("c_custkey")).collect().map(_.getLong(0))
      .filter(_ % 97 == 0).toSet
    val byFile = orders.groupBy(_._1 % 8)
    val want = byFile.toSeq.sortBy(_._1).map { case (f, g) =>
      val positioned = g.sortBy(_._1).zipWithIndex
        .map { case ((ok, ck, c), i) => (ok, ck, c, i + 1L) }
      val eq = positioned.filter(t => gdpr.contains(t._2)).map(_._4).toSet
      val pv = positioned.filter(t => f == 3L && t._4 % 50 == 0).map(_._4).toSet
      val dv = eq ++ pv
      val live = positioned.filterNot(t => dv.contains(t._4))
      (f, g.length.toLong, eq.size.toLong, pv.size.toLong, dv.size.toLong,
        live.length.toLong, live.map(_._3).sum,
        g.length.toLong == live.length + dv.size)
    }
    assert(got.toSeq == want, s"got ${got.head} want ${want.head}")
    assert(got.forall(_._8), "n_rows = n_live + n_deleted must hold per file")
  }
}
