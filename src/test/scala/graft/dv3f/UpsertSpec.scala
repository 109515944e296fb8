package graft.dv3f

import graft.SparkSpec
import graft.queries.Dv3fQueries
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** INSERT OR REPLACE BY NAME semantics (SURVEY.md §2 K3, FIXTURES.md §2):
  * last-writer-wins on uid, name-based column alignment, idempotence.
  */
class UpsertSpec extends SparkSpec {
  private def freshDir(): String =
    Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft-upsert")
      .resolve("src_departement").toString

  private lazy val staged =
    Reshape.transform(Dv3fQueries.fixtureWide(spark), Dv3fConfig.departement)

  test("first load inserts all rows") {
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    assert(Upsert.read(spark, dir).count() === 3)
  }

  test("reloading the same batch is idempotent (count and content)") {
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val first = Upsert.read(spark, dir).orderBy("uid").collect()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val second = Upsert.read(spark, dir).orderBy("uid").collect()
    assert(second === first)
  }

  test("changed metric replaces the row rather than duplicating") {
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val changed = staged.withColumn("nbtrans",
      when(col("cod") === "111" && col("annee") === "2019", lit(9999L))
        .otherwise(col("nbtrans")))
    Upsert.upsertByName(spark, dir, changed, Dv3fConfig.departement)
    val out = Upsert.read(spark, dir)
    assert(out.count() === 3)
    assert(Quality.uniqueViolations(out, "uid") === 0)
    val v = out.filter(col("cod") === "111" && col("annee") === "2019")
      .select("nbtrans").collect()(0).getLong(0)
    assert(v === 9999L)
  }

  test("BY NAME alignment: missing columns NULL-filled, extras dropped") {
    val dir = freshDir()
    val partial = staged.select("uid", "annee", "dep", "libdep", "cod", "nbtrans")
      .withColumn("not_in_schema", lit("x"))
    Upsert.upsertByName(spark, dir, partial, Dv3fConfig.departement)
    val out = Upsert.read(spark, dir)
    assert(out.schema.fieldNames.toSeq ===
      Dv3fConfig.departement.schema.fieldNames.toSeq)
    assert(out.filter(col("valeurfonc_sum").isNotNull).count() === 0)
  }

  test("quality checks pass on the loaded staging table") {
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val checks = Quality.stagingChecks(
      Upsert.read(spark, dir), Dv3fConfig.departement)
    assert(checks.forall(_.passed), checks.filterNot(_.passed).mkString(", "))
  }

  test("declared-schema evolution: old rows read NULL in a newly added column") {
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    // the declaration evolves — the API ships a new id column this year
    val evolved = Dv3fConfig.departement.copy(
      idVars = Dv3fConfig.departement.idVars :+ "insee_new")
    val batch = staged.limit(1)
      .withColumn("uid", lit("evolved-row"))
      .withColumn("insee_new", lit("v2"))
    Upsert.upsertByName(spark, dir, batch, evolved)
    val out = Upsert.read(spark, dir)
    assert(out.count() === 4)
    assert(out.columns.contains("insee_new"))
    // pre-evolution rows carry NULL in the new column; the new row its value
    assert(out.filter(col("insee_new").isNull).count() === 3)
    assert(out.filter(col("uid") === "evolved-row")
      .select("insee_new").collect()(0).getString(0) === "v2")
  }

  test("partitioned upsert touches only the batch's partitions") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val table = Dv3fConfig.departement
    val dir = java.nio.file.Files.createTempDirectory("upsert_part").toString + "/t"
    def batch(rows: (String, String, Long)*) =
      rows.toSeq.toDF("uid", "annee", "nbtrans")
        .withColumn("dep", org.apache.spark.sql.functions.lit("85"))

    Upsert.upsertByNamePartitioned(spark, dir,
      batch(("a1", "2019", 1L), ("b1", "2020", 2L)), table, "annee")
    // remember 2019's files; a 2020-only batch must not rewrite them
    def files2019() = {
      val d = Upsert.currentSnapshot(spark, dir).get("2019")
      new java.io.File(s"$d/annee=2019").listFiles()
        .map(f => (f.getPath, f.lastModified)).toSet
    }
    val before = files2019()

    Upsert.upsertByNamePartitioned(spark, dir,
      batch(("b1", "2020", 9L), ("b2", "2020", 3L)), table, "annee")

    val got = Upsert.read(spark, dir)
      .select("uid", "annee", "nbtrans").collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getLong(2))).toSet
    assert(got == Set(("a1", "2019", 1L), ("b1", "2020", 9L), ("b2", "2020", 3L)))
    // untouched partition preserved bit-for-bit, still owned by commit 1
    assert(files2019() == before)
    // partition-pruned read path works
    assert(Upsert.read(spark, dir).filter(col("annee") === "2020").count() == 2)
  }

  test("partitioned: pre-protocol flat layout is adopted as version 0") {
    import spark.implicits._
    val table = Dv3fConfig.departement
    // both partitioned faces: the upsert and the CDC merge (as an update)
    val faces: Seq[(String, (String, org.apache.spark.sql.DataFrame) => Unit)] = Seq(
      "upsertByNamePartitioned" -> ((dir, batch) =>
        Upsert.upsertByNamePartitioned(spark, dir, batch, table, "annee")),
      "mergeCdcPartitioned" -> ((dir, batch) =>
        Upsert.mergeCdcPartitioned(spark, dir,
          batch.withColumn("op", lit("U")).withColumn("seq", lit(1L)),
          table, "annee")))
    faces.foreach { case (face, commit) =>
      val dir = java.nio.file.Files.createTempDirectory("upsert_legacy").toString + "/t"
      // a pre-protocol writer laid the table out flat (partition dirs at
      // the root, no markers)
      Seq(("a1", "2019", "85", 1L), ("b0", "2020", "85", 5L), ("b1", "2020", "85", 2L))
        .toDF("uid", "annee", "dep", "nbtrans")
        .write.partitionBy("annee").parquet(dir)
      // first versioned commit touches only 2020; 2019 must keep being
      // served from the adopted root (version 0), and 2020's existing
      // rows merged with the batch, not replaced by it
      commit(dir, Seq(("b1", "2020", "85", 9L)).toDF("uid", "annee", "dep", "nbtrans"))
      val got = Upsert.read(spark, dir)
        .select("uid", "annee", "nbtrans").collect()
        .map(r => (r.getString(0), r.get(1).toString, r.getLong(2))).toSet
      assert(got == Set(("a1", "2019", 1L), ("b0", "2020", 5L), ("b1", "2020", 9L)), face)
      val snap = Upsert.currentSnapshot(spark, dir).get
      assert(snap("2019") == dir && snap("2020") != dir, s"$face: $snap")
    }
  }

  test("concurrent reader keeps a consistent snapshot across a commit") {
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    // reader resolves the commit pointer NOW (plans against snapshot 1)
    val reader = Upsert.read(spark, dir)
    val changed = staged.withColumn("nbtrans", lit(777L))
    Upsert.upsertByName(spark, dir, changed, Dv3fConfig.departement)
    // the commit happened mid-"query": the reader still sees snapshot 1
    // in full — not a mix, not an error (its files are immutable and
    // survive vacuum for keepCommits commits)
    assert(reader.filter(col("nbtrans") === 777L).count() === 0)
    assert(reader.count() === 3)
    // a reader that resolves after the commit sees only snapshot 2
    val after = Upsert.read(spark, dir)
    assert(after.filter(col("nbtrans") =!= 777L).count() === 0)
  }

  test("crashed commit (data dir without marker) is invisible to readers") {
    // 1 h margin past the grace window: a CPU-steal stall on this host
    // (SURVEY §8.6) only makes a stale file staler, never younger
    def setOld(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis - Upsert.tempGraceMs - 3600000)
      Option(f.listFiles()).foreach(_.foreach(setOld))
    }
    // "young" must be young relative to vacuum's clock read — re-stamp
    // right before the vacuum-triggering upsert so no stall between the
    // parquet write and the vacuum can age the dir past the grace
    def setYoung(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis)
      Option(f.listFiles()).foreach(_.foreach(setYoung))
    }
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    // simulate a writer that died after writing data, before publishing
    staged.write.parquet(s"$dir/_v_999")
    assert(Upsert.read(spark, dir).count() === 3) // still snapshot 1
    // the commit chain is GAPLESS: the dangling dir must NOT bump the
    // next commit number (that very bump was the stale-base lost-update
    // hole — a racer steered to a higher n than the concurrent winner)
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val markers = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("_commit_")).toSet
    assert(markers === Set("_commit_1", "_commit_2"), markers.mkString(","))
    // a YOUNG unreferenced over-max dir could be an in-flight writer's —
    // vacuum must leave it; once it is stale (crash long past) it goes
    setYoung(new java.io.File(s"$dir/_v_999"))
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    assert(new java.io.File(s"$dir/_v_999").exists(),
      "[crashed-commit test] vacuum deleted a YOUNG dangling data dir")
    setOld(new java.io.File(s"$dir/_v_999"))
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    assert(!new java.io.File(s"$dir/_v_999").exists(),
      "[crashed-commit test] vacuum left a STALE dangling data dir")
    assert(Upsert.read(spark, dir).count() === 3)
  }

  test("legacy RAW marker (no #enc header) reads verbatim: '50%' and 'a+b' survive") {
    import spark.implicits._
    val table = Dv3fConfig.departement
    val dir = java.nio.file.Files.createTempDirectory("upsert_raw").toString + "/t"
    // a pre-encoding writer committed values that URL-decoding would
    // break: decode("50%") throws, decode("a+b") silently -> "a b"
    Upsert.alignByName(
      Seq(("u1", "50%", "85", 1L), ("u2", "a+b", "85", 2L))
        .toDF("uid", "annee", "dep", "nbtrans"), table)
      .write.partitionBy("annee").parquet(s"$dir/_v_1")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    Upsert.publish(fs, new org.apache.hadoop.fs.Path(dir), 1,
      "#partitionCol:annee\n50%=1\na+b=1")
    val got = Upsert.read(spark, dir)
      .select("uid", "annee").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("u1", "50%"), ("u2", "a+b")))
    // and a new commit on top round-trips them through the NEW format
    Upsert.upsertByNamePartitioned(spark, dir,
      Seq(("u3", "50%", "85", 9L)).toDF("uid", "annee", "dep", "nbtrans"),
      table, "annee")
    val after = Upsert.read(spark, dir)
      .select("uid", "annee").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(after === Set(("u1", "50%"), ("u2", "a+b"), ("u3", "50%")))
  }

  test("inference-unstable partition values ('07') round-trip verbatim") {
    import spark.implicits._
    val table = Dv3fConfig.departement
    val dir = java.nio.file.Files.createTempDirectory("upsert_zero").toString + "/t"
    // "07" infers as int 7; a cast-back-to-string renders "7" and the
    // marker key "07" silently matches nothing — the scan must take the
    // directory value verbatim
    Upsert.upsertByNamePartitioned(spark, dir,
      Seq(("a1", "07", "85", 1L), ("b1", "2020", "85", 2L))
        .toDF("uid", "annee", "dep", "nbtrans"), table, "annee")
    // second commit touches only 2020 — "07" must keep being served
    Upsert.upsertByNamePartitioned(spark, dir,
      Seq(("b1", "2020", "85", 9L)).toDF("uid", "annee", "dep", "nbtrans"),
      table, "annee")
    val got = Upsert.read(spark, dir)
      .select("uid", "annee", "nbtrans").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("a1", "07", 1L), ("b1", "2020", 9L)))
    // and merging INTO "07" reads its existing rows (no silent discard)
    Upsert.upsertByNamePartitioned(spark, dir,
      Seq(("a2", "07", "85", 5L)).toDF("uid", "annee", "dep", "nbtrans"),
      table, "annee")
    assert(Upsert.read(spark, dir).filter(col("annee") === "07").count() === 2)
  }

  test("empty-string partition value is rejected loudly") {
    import spark.implicits._
    val dir = freshDir()
    val e = intercept[IllegalArgumentException] {
      Upsert.upsertByNamePartitioned(spark, dir,
        Seq(("a1", "", "85", 1L)).toDF("uid", "annee", "dep", "nbtrans"),
        Dv3fConfig.departement, "annee")
    }
    assert(e.getMessage.contains("non-empty"))
  }

  test("racing writers: the marker rename is the commit point, loser fails loudly") {
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(dir)
    // both writers would compute next = 2; the faster one publishes...
    Upsert.publish(fs, target, 2, "")
    // ...and the slower one's publish of the SAME commit number must
    // throw, never silently clobber the winner's marker
    val e = intercept[IllegalStateException] {
      Upsert.publish(fs, target, 2, "other writer's content")
    }
    assert(e.getMessage.contains("lost a race"))
    // the winner's (empty) marker content is intact
    assert(Upsert.currentSnapshot(spark, dir).get.keySet === Set(""))
  }

  test("racing DATA writes cannot corrupt the winner: attempts own private dirs") {
    // the pre-fix protocol wrote both attempts to a SHARED _v_<n> dir
    // with Overwrite — the loser's write deleted the winner's published
    // files. Now each attempt owns a writer-unique dir, so a loser that
    // wrote data AFTER the winner published leaves the winner intact.
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val winner = Upsert.read(spark, dir).orderBy("uid").collect()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(dir)
    // the slow loser (which computed the same commit number 1 before the
    // winner published) now writes ITS data — to its own dir, then fails
    // at the marker
    staged.withColumn("nbtrans", lit(-1L))
      .write.parquet(s"$dir/_v_1_deadbeef")
    intercept[IllegalStateException] {
      Upsert.publish(fs, target, 1, "#dir:_v_1_deadbeef")
    }
    // the winner's published snapshot is untouched: same rows, no -1s
    assert(Upsert.read(spark, dir).orderBy("uid").collect() === winner)
    // the loser's orphan dir is swept once superseded
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    assert(!new java.io.File(s"$dir/_v_1_deadbeef").exists())
  }

  test("two genuinely concurrent writers: one commit each, union visible after retries") {
    import spark.implicits._
    val table = Dv3fConfig.departement
    val dir = freshDir()
    def batch(uid: String, annee: String) =
      Seq((uid, annee, 1L)).toDF("uid", "annee", "nbtrans")
        .withColumn("dep", lit("85"))
    // no caller-side retry: the upsert itself retries a lost race
    // against the fresh snapshot (withRaceRetry) — the convergence the
    // protocol documents must not exist only in prose
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("2019" -> "w1", "2020" -> "w2").map { case (annee, uid) =>
      new Thread(() => {
        try {
          barrier.await()
          Upsert.upsertByNamePartitioned(spark, dir, batch(uid, annee), table, "annee")
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toArray.mkString(", "))
    // both writers' rows are visible — neither commit was lost
    val got = Upsert.read(spark, dir).select("uid").as[String].collect().toSet
    assert(got === Set("w1", "w2"))
    // markers are a contiguous chain with no duplicate winners
    val markers = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("_commit_")).toSet
    assert(markers === Set("_commit_1", "_commit_2"), markers.mkString(","))
  }

  test("concurrent mergeCdc vs upsert: race retry converges, delete is not lost") {
    import spark.implicits._
    val table = Dv3fConfig.departement
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val Array(u0, u1, _) = staged.orderBy("uid").select("uid")
      .collect().map(_.getString(0))
    // writer A deletes u0 via CDC; writer B upserts a changed u1 —
    // whichever loses the marker race must retry against the winner's
    // snapshot, so BOTH effects land regardless of interleaving
    val del = staged.filter(col("uid") === u0)
      .withColumn("op", lit("D")).withColumn("seq", lit(1L))
    val upd = staged.filter(col("uid") === u1).withColumn("nbtrans", lit(555L))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(
      new Thread(() => {
        try { barrier.await(); Upsert.mergeCdc(spark, dir, del, table) }
        catch { case t: Throwable => errs.add(t) }
      }),
      new Thread(() => {
        try { barrier.await(); Upsert.upsertByName(spark, dir, upd, table) }
        catch { case t: Throwable => errs.add(t) }
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toArray.mkString(", "))
    val got = Upsert.read(spark, dir)
    assert(got.filter(col("uid") === u0).count() === 0, "delete was lost")
    assert(got.filter(col("uid") === u1)
      .select("nbtrans").head.getLong(0) === 555L, "update was lost")
    assert(got.count() === 2)
  }

  test("versioned read prunes partitions at RUNTIME despite the string-pinned schema") {
    import spark.implicits._
    val table = Dv3fConfig.departement
    val dir = java.nio.file.Files.createTempDirectory("upsert_prune").toString + "/t"
    Upsert.upsertByNamePartitioned(spark, dir,
      (1 to 8).map(i => (s"u$i", s"200$i", "85", i.toLong))
        .toDF("uid", "annee", "dep", "nbtrans"), table, "annee")
    // a reader filtering one partition must open ONLY that partition's
    // files — the user-supplied string schema must not defeat
    // PartitionFilters (this is the "upsert/read cost ∝ partition
    // footprint" claim, measured rather than argued)
    val one = Upsert.read(spark, dir).filter(org.apache.spark.sql.functions.col("annee") === "2003")
    one.collect()
    val pruned = graft.ops.PlanMetrics.filesRead(one)
    val all = Upsert.read(spark, dir)
    all.collect()
    val full = graft.ops.PlanMetrics.filesRead(all)
    assert(pruned > 0 && full >= 8, s"pruned=$pruned full=$full")
    assert(pruned <= full / 8, s"no runtime pruning: $pruned of $full files read")
  }

  test("four simultaneous writers all converge within the retry bound") {
    import spark.implicits._
    val table = Dv3fConfig.departement
    val dir = freshDir()
    // worst case the 4th-place writer needs 4 attempts (one winner per
    // round) — must stay under raceRetries regardless of interleaving
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try {
          barrier.await()
          Upsert.upsertByNamePartitioned(spark, dir,
            Seq((s"w$i", s"201$i", "85", i.toLong))
              .toDF("uid", "annee", "dep", "nbtrans"), table, "annee")
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toArray.mkString(", "))
    val got = Upsert.read(spark, dir).select("uid").as[String].collect().toSet
    assert(got === Set("w1", "w2", "w3", "w4"))
    // gapless chain: exactly commits 1..4, no vacuumed-slot surprises
    assert(Upsert.versions(spark, dir) === Seq(3L, 4L)) // keepCommits = 2
  }

  test("a writer stalled past vacuum cannot publish into the vacuumed marker gap") {
    // writer W reads base=1 (target slot 2) and stalls; rivals advance
    // the chain to 4, whose vacuum deletes marker 2. W's rename of
    // _commit_2 would SUCCEED into the gap — readers resolve max=4 and
    // W's "successful" commit is invisible. The publish pre-check must
    // turn that into a loud race loss instead.
    val dir = freshDir()
    (1 to 4).foreach { i =>
      Upsert.upsertByName(spark, dir,
        staged.withColumn("nbtrans", lit(i.toLong)), Dv3fConfig.departement)
    }
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.contains("_commit_2"), names.mkString(",")) // slot vacuumed
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val e = intercept[CommitRaceException] {
      Upsert.publish(fs, new org.apache.hadoop.fs.Path(dir), 2, "#dir:_v_2_stale")
    }
    assert(e.getMessage.contains("chain already at 4"))
    assert(!new java.io.File(dir, "_commit_2").exists())
  }

  test("partitioned upsert onto an UNPARTITIONED table is rejected, not corrupted") {
    import spark.implicits._
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val e = intercept[IllegalStateException] {
      Upsert.upsertByNamePartitioned(spark, dir,
        Seq(("z1", "2020", "85", 1L)).toDF("uid", "annee", "dep", "nbtrans"),
        Dv3fConfig.departement, "annee")
    }
    assert(e.getMessage.contains("UNPARTITIONED"))
    // and with a DIFFERENT partition column than the table's own
    val pdir = freshDir()
    Upsert.upsertByNamePartitioned(spark, pdir,
      Seq(("z1", "2020", "85", 1L)).toDF("uid", "annee", "dep", "nbtrans"),
      Dv3fConfig.departement, "annee")
    intercept[IllegalArgumentException] {
      Upsert.upsertByNamePartitioned(spark, pdir,
        Seq(("z2", "2020", "85", 1L)).toDF("uid", "annee", "dep", "nbtrans"),
        Dv3fConfig.departement, "dep")
    }
  }

  test("vacuum leaves a LIVE writer's young commit temp alone, sweeps stale ones") {
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    // a concurrent writer mid-publish: temp created, rename not yet done
    val live = new java.io.File(dir, ".commit_tmp_live-writer")
    live.createNewFile()
    // re-stamp the mtime right before the vacuum-triggering upsert:
    // "young" must mean young relative to vacuum's clock read, not to
    // this test body's start — a multi-second CPU-steal stall between
    // createNewFile and the vacuum (this host has them; SURVEY §8.6)
    // must not be able to age the temp past the grace window
    live.setLastModified(System.currentTimeMillis)
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    assert(live.exists(),
      "[vacuum young/stale temp test] vacuum deleted a live writer's young temp file")
    // the same temp gone stale (crashed writer) is collected; the 1 h
    // extra margin keeps the assertion stall-proof in the other
    // direction (a stall only makes a stale file staler)
    live.setLastModified(System.currentTimeMillis - Upsert.tempGraceMs - 3600000)
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    assert(!live.exists(),
      "[vacuum young/stale temp test] vacuum left a stale temp file behind")
  }

  test("partition values with '=', spaces and '%' survive the marker round-trip") {
    import spark.implicits._
    val table = Dv3fConfig.departement
    val dir = java.nio.file.Files.createTempDirectory("upsert_esc").toString + "/t"
    val odd = Seq("20=19", "a b", "50%", "x\ny")
    Upsert.upsertByNamePartitioned(spark, dir,
      odd.zipWithIndex.map { case (a, i) => (s"u$i", a, "85", 1L) }
        .toDF("uid", "annee", "dep", "nbtrans"), table, "annee")
    // second commit touching ONE odd partition must not lose the others
    Upsert.upsertByNamePartitioned(spark, dir,
      Seq(("u0", "20=19", "85", 9L)).toDF("uid", "annee", "dep", "nbtrans"),
      table, "annee")
    val got = Upsert.read(spark, dir)
      .select("uid", "annee", "nbtrans").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("u0", "20=19", 9L), ("u1", "a b", 1L),
      ("u2", "50%", 1L), ("u3", "x\ny", 1L)))
  }

  test("flat-layout adoption unescapes Hive partition dir names") {
    import spark.implicits._
    val table = Dv3fConfig.departement
    val dir = java.nio.file.Files.createTempDirectory("upsert_hive").toString + "/t"
    // a pre-protocol writer partitioned by a value needing path escaping
    Seq(("a1", "a b", "85", 1L)).toDF("uid", "annee", "dep", "nbtrans")
      .write.partitionBy("annee").parquet(dir)
    // adopting commit touches a different partition; the escaped one
    // must survive under its RAW value
    Upsert.upsertByNamePartitioned(spark, dir,
      Seq(("b1", "2020", "85", 2L)).toDF("uid", "annee", "dep", "nbtrans"),
      table, "annee")
    val got = Upsert.read(spark, dir)
      .select("uid", "annee").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("a1", "a b"), ("b1", "2020")))
  }

  test("time travel: readVersion serves retained snapshots, fails loudly past vacuum") {
    val dir = freshDir()
    (1 to 3).foreach { i =>
      Upsert.upsertByName(spark, dir,
        staged.withColumn("nbtrans", lit(i.toLong)), Dv3fConfig.departement)
    }
    // keepCommits = 2: versions 2 and 3 retained, 1 vacuumed
    assert(Upsert.versions(spark, dir) === Seq(2L, 3L))
    assert(Upsert.readVersion(spark, dir, 2)
      .select("nbtrans").collect().forall(_.getLong(0) == 2L))
    assert(Upsert.readVersion(spark, dir, 3)
      .select("nbtrans").collect().forall(_.getLong(0) == 3L))
    // the previous-load comparison the reference's re-ingest audit does
    val prev = Upsert.readVersion(spark, dir, 2).select("uid", "nbtrans")
    val cur = Upsert.read(spark, dir).select("uid", "nbtrans")
    assert(cur.join(prev, Seq("uid", "nbtrans"), "left_anti").count() === 3)
    val e = intercept[IllegalStateException] {
      Upsert.readVersion(spark, dir, 1)
    }
    assert(e.getMessage.contains("retained: 2,3"))
  }

  test("versioned layout: snapshots are immutable dirs, vacuum bounds them") {
    val dir = freshDir()
    (1 to 4).foreach { i =>
      Upsert.upsertByName(spark, dir,
        staged.withColumn("nbtrans", lit(i.toLong)), Dv3fConfig.departement)
    }
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    // only the last keepCommits snapshots (+ markers) survive; dir
    // names carry a writer-unique token after the version number
    val versions = names.filter(_.startsWith("_v_"))
      .map(_.drop("_v_".length).takeWhile(_.isDigit).toLong)
    val markers = names.filter(_.startsWith("_commit_"))
    assert(versions === Set(3L, 4L), names.mkString(","))
    assert(markers === Set("_commit_3", "_commit_4"), names.mkString(","))
    assert(Upsert.read(spark, dir)
      .select("nbtrans").collect().forall(_.getLong(0) == 4L))
  }

  test("mergeCdc: delete commits a new version; time travel keeps the pre-delete snapshot") {
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val victim = staged.orderBy("uid").select("uid").collect()(0).getString(0)
    val del = staged.filter(col("uid") === victim)
      .withColumn("op", lit("D")).withColumn("seq", lit(1L))
    Upsert.mergeCdc(spark, dir, del, Dv3fConfig.departement)
    val now = Upsert.read(spark, dir)
    assert(now.count() === 2)
    assert(now.filter(col("uid") === victim).count() === 0)
    assert(Upsert.versions(spark, dir) === Seq(1L, 2L))
    assert(Upsert.readVersion(spark, dir, 1L).count() === 3)
  }

  test("mergeCdc: mixed I/U/D batch with latest-wins; re-applying it converges") {
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val Array(u0, u1, u2) = staged.orderBy("uid").select("uid")
      .collect().map(_.getString(0))
    val changes = staged.filter(col("uid") === u0)
      .withColumn("nbtrans", lit(111L))
      .withColumn("op", lit("U")).withColumn("seq", lit(1L))
      .unionByName(staged.filter(col("uid") === u0) // second wave wins
        .withColumn("nbtrans", lit(222L))
        .withColumn("op", lit("U")).withColumn("seq", lit(2L)))
      .unionByName(staged.filter(col("uid") === u1)
        .withColumn("op", lit("D")).withColumn("seq", lit(1L)))
      .unionByName(staged.filter(col("uid") === u2)
        .withColumn("uid", concat(col("uid"), lit("_new")))
        .withColumn("op", lit("I")).withColumn("seq", lit(1L)))
    Upsert.mergeCdc(spark, dir, changes, Dv3fConfig.departement)
    val out1 = Upsert.read(spark, dir).orderBy("uid").collect()
    val byUid = Upsert.read(spark, dir)
    assert(byUid.count() === 3) // 3 - deleted + inserted
    assert(byUid.filter(col("uid") === u0)
      .select("nbtrans").collect()(0).getLong(0) === 222L)
    assert(byUid.filter(col("uid") === u1).count() === 0)
    assert(byUid.filter(col("uid") === s"${u2}_new").count() === 1)
    // replaying the identical batch converges to identical content
    Upsert.mergeCdc(spark, dir, changes, Dv3fConfig.departement)
    assert(Upsert.read(spark, dir).orderBy("uid").collect() === out1)
  }

  test("mergeCdcPartitioned: partition-footprint deletes; emptied partitions vanish") {
    import spark.implicits._
    val table = Dv3fConfig.departement
    val dir = java.nio.file.Files.createTempDirectory("cdc_part").toString + "/t"
    def batch(rows: (String, String, Long)*) =
      rows.toSeq.toDF("uid", "annee", "nbtrans")
        .withColumn("dep", lit("85"))
    Upsert.upsertByNamePartitioned(spark, dir,
      batch(("a1", "2019", 1L), ("a2", "2019", 2L), ("b1", "2020", 3L),
        ("c1", "2021", 4L)), table, "annee")
    val dir2021Before = Upsert.currentSnapshot(spark, dir).get("2021")

    // one change batch: delete ALL of 2019, update b1 in 2020; 2021 untouched
    val changes = batch(("a1", "2019", 0L), ("a2", "2019", 0L))
      .withColumn("op", lit("D")).withColumn("seq", lit(1L))
      .unionByName(batch(("b1", "2020", 99L))
        .withColumn("op", lit("U")).withColumn("seq", lit(1L)))
    Upsert.mergeCdcPartitioned(spark, dir, changes, table, "annee")

    val got = Upsert.read(spark, dir)
      .select("uid", "annee", "nbtrans").collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getLong(2))).toSet
    assert(got === Set(("b1", "2020", 99L), ("c1", "2021", 4L)))
    val snap = Upsert.currentSnapshot(spark, dir).get
    // 2019 vanished from the map; 2021 still served by its ORIGINAL dir
    assert(!snap.contains("2019"), snap.toString)
    assert(snap("2021") === dir2021Before, "untouched partition was rewritten")
    // replaying the same change batch converges (idempotent outcome)
    Upsert.mergeCdcPartitioned(spark, dir, changes, table, "annee")
    val again = Upsert.read(spark, dir)
      .select("uid", "annee", "nbtrans").collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getLong(2))).toSet
    assert(again === got)
  }

  test("mergeCdcPartitioned rejects an unpartitioned snapshot loudly") {
    val dir = freshDir()
    Upsert.upsertByName(spark, dir, staged, Dv3fConfig.departement)
    val del = staged.limit(1).orderBy("uid")
      .withColumn("op", lit("D")).withColumn("seq", lit(1L))
    val e = intercept[IllegalStateException] {
      Upsert.mergeCdcPartitioned(spark, dir, del, Dv3fConfig.departement, "annee")
    }
    assert(e.getMessage.contains("UNPARTITIONED"))
  }

  test("mergeCdc on an empty table: I/U rows insert, D rows are no-ops") {
    val dir = freshDir()
    val changes = staged.orderBy(col("uid").asc).limit(1)
      .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      .unionByName(staged.orderBy(col("uid").desc).limit(1)
        .withColumn("op", lit("D")).withColumn("seq", lit(1L)))
    Upsert.mergeCdc(spark, dir, changes, Dv3fConfig.departement)
    assert(Upsert.read(spark, dir).count() === 1)
  }

  test("publish refuses object-store schemes: the rename contract does not hold") {
    // a FileSystem that behaves like S3A's worst case: reports scheme
    // s3a AND happily renames onto an existing destination (copy+delete
    // semantics — the "both racing writers win" failure the guard
    // exists to stop). Functionally it's the local FS, so if the guard
    // DIDN'T trip, the publish would "succeed" and the test would fail.
    val fs = new FakeObjectStoreFs("s3a")
    val target = new org.apache.hadoop.fs.Path(freshDir())
    fs.mkdirs(target)
    val e = intercept[UnsupportedOperationException] {
      Upsert.publish(fs, target, 1L, "#dir:_v_1_test")
    }
    assert(e.getMessage.contains("s3a"))
    assert(e.getMessage.contains("object store"))
    // nothing was committed: no marker landed despite rename "working"
    assert(!fs.exists(new org.apache.hadoop.fs.Path(target, "_commit_1")))
    // the opt-in conf is NOT honored for known object stores — asserting
    // atomic rename over S3 is a misconfiguration, not a capability
    fs.getConf.setBoolean(Upsert.AssumeAtomicRenameKey, true)
    intercept[UnsupportedOperationException] {
      Upsert.publish(fs, target, 1L, "#dir:_v_1_test")
    }
  }

  test("INTEGRATION: every publish path trips the object-store gate through fsFor, before any data write") {
    // drive the four public write flows END-TO-END against a mock
    // FileSystem that the session resolves for s3a:// URIs — proving
    // (a) no publish path can reach an object store ungated (a missed
    // path is a silent data-loss hole under racing writers), and
    // (b) the gate fires BEFORE the parquet write, so a misdeployment
    // fails in milliseconds instead of after shipping a huge data dir.
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.s3a.impl", classOf[MockS3aFs].getName)
    hconf.set("fs.s3a.impl.disable.cache", "true")
    try {
      val local = freshDir() // real local dir the mock maps onto
      val target = s"s3a://${local.stripPrefix("/")}/t"
      val one = staged.limit(1)
      val changes = one.withColumn("op", lit("I")).withColumn("seq", lit(1L))
      val flows: Seq[(String, () => Unit)] = Seq(
        "upsertByName" -> (() =>
          Upsert.upsertByName(spark, target, one, Dv3fConfig.departement)),
        "upsertByNamePartitioned" -> (() =>
          Upsert.upsertByNamePartitioned(spark, target, one,
            Dv3fConfig.departement, "annee")),
        "mergeCdc" -> (() =>
          Upsert.mergeCdc(spark, target, changes, Dv3fConfig.departement)),
        "mergeCdcPartitioned" -> (() =>
          Upsert.mergeCdcPartitioned(spark, target, changes,
            Dv3fConfig.departement, "annee")))
      flows.foreach { case (name, run) =>
        val e = intercept[UnsupportedOperationException](run())
        assert(e.getMessage.contains("s3a"), s"$name: wrong error: $e")
        assert(e.getMessage.contains("object store"), s"$name")
      }
      // the gate fired before any byte moved: the mock's backing local
      // dir holds no data dirs, no markers, nothing
      val backing = new java.io.File(local, "t")
      assert(!backing.exists(),
        s"a publish path wrote data to an object store before the gate: " +
          Option(backing.listFiles()).getOrElse(Array.empty)
            .map(_.getName).mkString(", "))
    } finally {
      hconf.unset("fs.s3a.impl")
      hconf.unset("fs.s3a.impl.disable.cache")
    }
  }

  test("publish on an unknown scheme needs the documented opt-in") {
    val fs = new FakeObjectStoreFs("ofs") // HDFS-compatible, not allowlisted
    val target = new org.apache.hadoop.fs.Path(freshDir())
    fs.mkdirs(target)
    val e = intercept[UnsupportedOperationException] {
      Upsert.publish(fs, target, 1L, "#dir:_v_1_test")
    }
    assert(e.getMessage.contains(Upsert.AssumeAtomicRenameKey))
    // with the conf asserted, the same publish goes through
    fs.getConf.setBoolean(Upsert.AssumeAtomicRenameKey, true)
    Upsert.publish(fs, target, 1L, "#dir:_v_1_test")
    assert(fs.exists(new org.apache.hadoop.fs.Path(target, "_commit_1")))
  }
}

/** Local FS masquerading as a non-HDFS scheme, with object-store rename
  * semantics (rename-onto-existing succeeds by deleting the destination
  * first — S3A's copy+delete shape). Used to prove the publish guard
  * trips BEFORE the broken rename can fake a successful commit.
  */
class FakeObjectStoreFs(scheme: String)
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  setConf(new org.apache.hadoop.conf.Configuration())
  override def getUri: java.net.URI = java.net.URI.create(s"$scheme:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (exists(dst)) delete(dst, true) // non-atomic overwrite, like S3A
    super.rename(src, dst)
  }
}

/** No-arg face of [[FakeObjectStoreFs]] so Hadoop's `fs.s3a.impl`
  * reflection can instantiate it — lets a spec hand the SESSION a
  * filesystem that resolves real `s3a://` URIs onto local disk.
  */
class MockS3aFs extends FakeObjectStoreFs("s3a")
