package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{ClusterIndex, DedupOps, GraphOps, MaintenanceLock, OperatingPoint, VectorOps}

/** Gates for the at-rest duplicate-cluster index: incremental append must
  * equal a full batch rebuild exactly, touch only the affected buckets on
  * disk, and agree with an independently recomputed LSH + connected-
  * components pipeline. */
class ClusterIndexSpec extends SparkSpec {

  private def base: DataFrame =
    Tables.load(spark, sf, "documents").select(col("doc_id"), col("text"))

  /** Append batch: a planted near-dup CHAIN per selected base doc (B = A +
    * 3 words, C = A + 5 words — both must fold into A's existing
    * component), plus novel docs whose words are all id-derived so they
    * share no shingles with anything (each must become its own singleton
    * component in whatever bucket its id hashes to). */
  private def appendBatch: DataFrame = {
    val sel = base.filter(col("doc_id") % 17 === 0)
    val novel = base.filter(col("doc_id") % 13 === 5)
      .select((col("doc_id") + 700000).as("doc_id"),
        concat_ws(" ",
          (col("doc_id") * 7 % 997).cast("string"),
          (col("doc_id") * 11 % 997).cast("string"),
          (col("doc_id") * 13 % 997).cast("string"),
          (col("doc_id") * 17 % 997).cast("string"),
          (col("doc_id") * 19 % 997).cast("string")).as("text"))
    sel.select((col("doc_id") + 500000).as("doc_id"),
        concat(col("text"), lit(" zz qq vv")).as("text"))
      .unionByName(sel.select((col("doc_id") + 600000).as("doc_id"),
        concat(col("text"), lit(" zz qq vv ww yy")).as("text")))
      .unionByName(novel)
  }

  private def labelSet(path: String): Set[(Long, Long, Boolean, Long)] =
    ClusterIndex.labels(spark, path)
      .select("doc_id", "component", "keep", "canonical")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
      .toSet

  /** Recursive (relative-path → (size, mtime)) listing of data files. */
  private def snapshot(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val root = new java.io.File(dir)
    walk(root).filter(_.getName.endsWith(".parquet"))
      .map(f => root.toPath.relativize(f.toPath).toString ->
        (f.length(), f.lastModified()))
      .toMap
  }

  private def partOfFile(rel: String): Int =
    "part=(\\d+)".r.findFirstMatchIn(rel).get.group(1).toInt

  test("append = full rebuild; only affected buckets rewritten; chains fold in") {
    val pathInc = "target/cluster_index_inc"
    val pathFull = "target/cluster_index_full"
    Seq(pathInc, pathFull).foreach(p =>
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively())

    ClusterIndex.write(base, pathInc)
    val before = snapshot(s"$pathInc/labels")
    assert(before.nonEmpty)

    val affected = ClusterIndex.append(appendBatch, pathInc)
    assert(affected.nonEmpty, "planted chains must touch existing components")

    // physical incrementality: every pre-existing file OUTSIDE an affected
    // bucket is byte-identical (same size and mtime — never rewritten), and
    // pruning is real (some pre-existing bucket was untouched)
    val after = snapshot(s"$pathInc/labels")
    val untouchedFiles = before.filter { case (rel, _) =>
      !affected.contains(partOfFile(rel))
    }
    assert(untouchedFiles.nonEmpty, "no bucket escaped the rewrite — pruning is not real")
    untouchedFiles.foreach { case (rel, meta) =>
      assert(after.get(rel).contains(meta), s"untouched bucket file changed: $rel")
    }

    // logical parity: the incremental artifact equals a full batch rebuild
    val combined = base.unionByName(appendBatch)
    ClusterIndex.write(combined, pathFull)
    assert(labelSet(pathInc) == labelSet(pathFull))

    // independent cross-check: components match a FRESH pair discovery +
    // connected components over the combined corpus (not the artifact code
    // path), so write() and append() cannot both be wrong the same way
    val want = GraphOps.connectedComponents(
        combined.select(col("doc_id").as("id")),
        DedupOps.lshPairsOf(spark, combined)
          .select(col("a_id").as("a"), col("b_id").as("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ClusterIndex.labels(spark, pathInc)
      .select("doc_id", "component")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)

    // semantic spot checks on the fold-in
    val labels = ClusterIndex.labels(spark, pathInc)
      .select("doc_id", "component", "keep", "canonical", "n_words")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getLong(3), r.getInt(4)))
    val byId = labels.map(l => l._1 -> l).toMap
    val chainRoots = base.filter(col("doc_id") % 17 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    // LSH pair discovery is probabilistic per band (deterministic misses,
    // shared with the full rebuild — the parity above proves that); most
    // planted B-copies must still fold into their A's existing component
    val foldedB = chainRoots.filter(a => byId(a)._2 == byId(a + 500000)._2)
    assert(foldedB.length * 2 >= chainRoots.length,
      s"only ${foldedB.length}/${chainRoots.length} B-copies folded into A")
    // retention contract on the final artifact: exactly one keeper per
    // component — the most complete member (max words, doc_id tie-break) —
    // and every member's canonical points at it
    labels.groupBy(_._2).foreach { case (comp, members) =>
      val keepers = members.filter(_._3)
      assert(keepers.length == 1, s"component $comp has ${keepers.length} keepers")
      val want = members.minBy(m => (-m._5, m._1))
      assert(keepers.head._1 == want._1, s"component $comp keeper is not the most complete")
      members.foreach(m => assert(m._4 == want._1,
        s"canonical of ${m._1} is not the keeper"))
    }
    // novel docs are their own singleton components, kept
    val novelIds = labels.filter(_._1 >= 700000)
    assert(novelIds.nonEmpty)
    novelIds.foreach { case (id, comp, keep, canon, _) =>
      assert(comp == id && keep && canon == id, s"novel $id not a kept singleton")
    }
  }

  test("append with zero matches touches no existing bucket") {
    val path = "target/cluster_index_nomatch"
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    ClusterIndex.write(base, path)
    val before = snapshot(s"$path/labels")
    val novelOnly = appendBatch.filter(col("doc_id") >= 700000)
    val affected = ClusterIndex.append(novelOnly, path)
    assert(affected.isEmpty, s"novel-only append touched buckets: $affected")
    val after = snapshot(s"$path/labels")
    before.foreach { case (rel, meta) =>
      assert(after.get(rel).contains(meta), s"file changed on no-match append: $rel")
    }
    // and the novel docs are present as kept singletons
    val novel = ClusterIndex.labels(spark, path)
      .filter(col("doc_id") >= 700000)
      .select("doc_id", "component", "keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(novel.nonEmpty)
    novel.foreach { case (id, comp, keep) => assert(comp == id && keep) }
  }

  test("write persists a corpus-derived layout and the band probe prunes") {
    val path = "target/cluster_index_meta"
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    ClusterIndex.write(base, path)
    val m = ClusterIndex.meta(spark, path)
    val n = base.count()
    assert(m.numParts == OperatingPoint.clusterIndexParts(n))
    assert(m.bandBuckets == OperatingPoint.bandIndexBuckets(n))
    assert(m.n == n)
    // bands are physically partitioned by the bkb bucket
    val bkbDirs = Option(new java.io.File(s"$path/bands").listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("bkb="))
    assert(bkbDirs.nonEmpty && bkbDirs.length <= m.bandBuckets)
    // a one-doc batch's probe plan prunes to the buckets its band keys
    // hash into — PartitionFilters on bkb, strictly fewer buckets than
    // the table holds
    val nd = DedupOps.lshDocsOf(appendBatch.limit(1))
    val pruned = ClusterIndex.prunedBands(spark, path, DedupOps.lshBandsOf(nd))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkb"),
      s"band probe plan does not prune:\n$plan")
    val readBkbs = pruned.select("bkb").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(readBkbs.size < bkbDirs.length,
      s"one-doc probe read ${readBkbs.size} of ${bkbDirs.length} buckets")
  }

  test("resubmitting an already-applied batch is absorbed idempotently") {
    val path = "target/cluster_index_resub"
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    ClusterIndex.write(base, path)
    ClusterIndex.append(appendBatch, path)
    val before = labelSet(path)
    // the full batch again — e.g. an operator retry after a lost
    // acknowledgement: force-touch must rewrite, not duplicate
    val affected = ClusterIndex.append(appendBatch, path)
    assert(affected.nonEmpty, "resubmission must force-touch stored components")
    assert(labelSet(path) == before, "resubmission changed the labels")
    val dups = ClusterIndex.labels(spark, path)
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dups == 0)
  }

  test("crash inside the labels rewrite duplicates, redelivery repairs exactly") {
    val pathCrash = "target/cluster_index_crash"
    val pathRef = "target/cluster_index_crash_ref"
    Seq(pathCrash, pathRef).foreach { p =>
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
      ClusterIndex.write(base, p)
    }
    // a MIGRATION batch: ids -a with text identical to base doc a. The
    // identical text guarantees the band match (same minhash signature),
    // and the merged component's id becomes min(old, -a) = -a, so the
    // whole component MIGRATES to -a's hash bucket — the new rows land as
    // GAINS in an unaffected bucket while the old copies sit in the
    // yet-unswapped affected bucket. A crash between those two phases is
    // the ADVICE-identified duplicate-visible window.
    val migration = base.filter(col("doc_id") % 41 === 3).limit(5)
      .select((-col("doc_id")).as("doc_id"), col("text"))
      .localCheckpoint(eager = true)
    assert(migration.count() >= 3)

    ClusterIndex.failpoint.set("after-gains:labels")
    try intercept[IllegalStateException] {
      ClusterIndex.append(migration, pathCrash)
    } finally ClusterIndex.failpoint.set(null)

    // the partial state is REAL: gains landed, swaps didn't — the base
    // docs are now visible under both their old and migrated components
    val dupsMid = ClusterIndex.labels(spark, pathCrash)
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dupsMid > 0, "crash window did not produce the duplicate state " +
      "this test exists to repair")

    // re-running the same append repairs: force-touch rewrites BOTH
    // copies' buckets, the duplicate dies
    ClusterIndex.append(migration, pathCrash)
    val dupsAfter = ClusterIndex.labels(spark, pathCrash)
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dupsAfter == 0)
    // exact parity with an uncrashed batch append
    ClusterIndex.append(migration, pathRef)
    assert(labelSet(pathCrash) == labelSet(pathRef))
  }

  test("maintenance lock: held fails loudly, stale is broken, always released") {
    val path = "target/cluster_index_lock"
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    ClusterIndex.write(base, path)
    val novelOnly = appendBatch.filter(col("doc_id") >= 700000)
    val lockFile = new java.io.File(s"$path/_maintenance.lock")
    // a live concurrent writer: second append must fail loudly
    java.nio.file.Files.write(lockFile.toPath, "12345 test-holder".getBytes)
    val ex = intercept[IllegalStateException] {
      ClusterIndex.append(novelOnly, path)
    }
    assert(ex.getMessage.contains("single-writer"))
    // a crashed writer: backdate past the staleness horizon — broken and
    // the append proceeds, releasing the lock on exit
    assert(lockFile.setLastModified(
      System.currentTimeMillis() - MaintenanceLock.DefaultStaleMs - 60000))
    ClusterIndex.append(novelOnly, path)
    assert(!lockFile.exists(), "lock not released after append")
    // the IVF artifact is fenced by the same lock
    val ivfPath = "target/ivf_lock_probe"
    new scala.reflect.io.Directory(new java.io.File(ivfPath)).deleteRecursively()
    assert(new java.io.File(ivfPath).mkdirs())
    java.nio.file.Files.write(
      new java.io.File(s"$ivfPath/_maintenance.lock").toPath,
      "12345 test-holder".getBytes)
    val e = Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    intercept[IllegalStateException] {
      VectorOps.writeIvfIndex(e, K = 8, ivfPath)
    }
  }

  test("append clears orphaned staging dirs and leaves none behind") {
    val path = "target/cluster_index_orphan"
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    ClusterIndex.write(base, path)
    // plant orphans as a crashed previous append would leave them
    val orphanStaging = new java.io.File(s"$path/labels/.staging-dead")
    val orphanRetired = new java.io.File(s"$path/labels/.retired-dead")
    assert(orphanStaging.mkdirs() && orphanRetired.mkdirs())
    val junk = new java.io.File(orphanStaging, "part=0")
    assert(junk.mkdirs())
    java.nio.file.Files.write(new java.io.File(junk, "junk.parquet").toPath,
      Array[Byte](1, 2, 3))

    val labelsBefore = labelSet(path)
    ClusterIndex.append(appendBatch, path)

    // orphans cleared, and the protocol's own staging/retired dirs gone
    def dotDirs(dir: String): Seq[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith(".staging-") ||
          f.getName.startsWith(".retired-"))
        .map(_.getName)
    assert(dotDirs(s"$path/labels").isEmpty, dotDirs(s"$path/labels"))
    assert(dotDirs(s"$path/edges").isEmpty, dotDirs(s"$path/edges"))
    // the orphan junk never leaked into a visible bucket
    assert(ClusterIndex.labels(spark, path).count() > labelsBefore.size)
  }

  test("compaction coalesces fragmented buckets; rows and pruning intact") {
    val path = "target/cluster_index_compact"
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    ClusterIndex.write(base, path)
    // a maintenance history fragments the artifact: each append lands its
    // band rows as NEW files and re-emits rewritten buckets from a
    // multi-task shuffle
    ClusterIndex.append(appendBatch, path)
    ClusterIndex.append(appendBatch, path)

    def bucketFiles(sub: String, pc: String): Map[Int, Int] =
      snapshot(s"$path/$sub").keys.toSeq
        .groupBy(rel => s"$pc=(\\d+)".r.findFirstMatchIn(rel).get.group(1).toInt)
        .map { case (b, fs) => b -> fs.size }
    val labelsBefore = labelSet(path)
    val bandsBefore = spark.read.parquet(s"$path/bands")
      .select("doc_id", "bk").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bucketFiles("bands", "bkb").values.exists(_ > 1),
      "maintenance history failed to fragment the band index")
    val before = Seq("labels" -> "part", "edges" -> "part", "bands" -> "bkb")
      .map { case (sub, pc) => sub -> snapshot(s"$path/$sub") }.toMap

    val compacted = ClusterIndex.compact(spark, path, maxFiles = 1)
    assert(compacted("bands").nonEmpty)

    // row parity: compaction moves bytes, never rows
    assert(labelSet(path) == labelsBefore)
    assert(spark.read.parquet(s"$path/bands")
      .select("doc_id", "bk").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == bandsBefore)

    // every compacted bucket holds exactly one data file now; every bucket
    // below the threshold is byte-identical
    Seq("labels" -> "part", "edges" -> "part", "bands" -> "bkb").foreach {
      case (sub, pc) =>
        val counts = bucketFiles(sub, pc)
        compacted(sub).foreach { b =>
          assert(counts(b) == 1, s"$sub bucket $b still has ${counts(b)} files")
        }
        val after = snapshot(s"$path/$sub")
        before(sub).foreach { case (rel, meta) =>
          val b = s"$pc=(\\d+)".r.findFirstMatchIn(rel).get.group(1).toInt
          if (!compacted(sub).contains(b))
            assert(after.get(rel).contains(meta),
              s"below-threshold $sub file changed: $rel")
        }
    }

    // the band probe still partition-prunes over the compacted layout
    val nd = DedupOps.lshDocsOf(appendBatch.limit(1))
    val plan = ClusterIndex.prunedBands(spark, path, DedupOps.lshBandsOf(nd))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkb"), plan)

    // already-compact artifact: second pass is a no-op
    assert(ClusterIndex.compact(spark, path, maxFiles = 1)
      .values.forall(_.isEmpty))
  }

  test("delete = rebuild without the victims; splits bridged components") {
    val pathDel = "target/cluster_index_del"
    val pathRef = "target/cluster_index_del_ref"
    Seq(pathDel, pathRef).foreach(p =>
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively())
    // bridge triple: B = A's words ++ C's words, A∩C = ∅ — deleting B must
    // SPLIT the component. Both bridge pairs sit at Jaccard 0.474 (above
    // the 0.4 verify floor) AND share a MinHash band under the pipeline's
    // fixed md5/universal-hash constants — band collision at this J is
    // fixture-dependent, so the word lists were searched offline and are
    // DETERMINISTIC forever (the hash family is pinned in DedupOps).
    val pWords = ("w028 w048 w176 w106 w034 w177 w022 w069 w052 w151 " +
      "w061 w191 w128 w067 w027 w082 w072 w044 w168 w150")
    val sWords = ("w116 w140 w075 w083 w112 w120 w088 w092 w197 w068 " +
      "w045 w005 w187 w198 w079 w136 w186 w138 w171 w035")
    val a = (900001L, pWords)
    val b = (900002L, pWords + " " + sWords)
    val c = (900003L, sWords)
    import spark.implicits._
    val corpus = base.unionByName(
      Seq(a, b, c).toDF("doc_id", "text"))
    ClusterIndex.write(corpus, pathDel)
    val compOf = ClusterIndex.labels(spark, pathDel)
      .select("doc_id", "component").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(compOf(a._1) == compOf(b._1) && compOf(b._1) == compOf(c._1),
      "bridge fixture must start as one component")

    // victims: the bridge + a spread of base docs (some keepers among them)
    val victimIds = Seq(b._1) ++ base.filter(col("doc_id") % 23 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val before = snapshot(s"$pathDel/labels")
    val affected = ClusterIndex.delete(
      victimIds.toDF("doc_id"), pathDel)
    assert(affected.nonEmpty)

    // physical incrementality under delete too
    val after = snapshot(s"$pathDel/labels")
    val untouched = before.filter { case (rel, _) =>
      !affected.contains(partOfFile(rel))
    }
    assert(untouched.nonEmpty, "no bucket escaped the delete rewrite")
    untouched.foreach { case (rel, meta) =>
      assert(after.get(rel).contains(meta), s"untouched bucket changed: $rel")
    }

    // logical parity: delete == a fresh build on the corpus minus victims
    val survivors = corpus.filter(!col("doc_id").isin(victimIds: _*))
    ClusterIndex.write(survivors, pathRef)
    assert(labelSet(pathDel) == labelSet(pathRef))

    // the bridge split: A and C live, now in different components
    val compAfter = ClusterIndex.labels(spark, pathDel)
      .select("doc_id", "component").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(!compAfter.contains(b._1))
    assert(compAfter(a._1) != compAfter(c._1), "bridge removal must split")

    // band index holds no victim rows, and only victim bkb buckets moved
    val bandIds = spark.read.parquet(s"$pathDel/bands")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(victimIds.forall(!bandIds.contains(_)))

    // deleting the same ids again is a no-op (already absent)
    assert(ClusterIndex.delete(victimIds.toDF("doc_id"), pathDel).isEmpty)
    assert(labelSet(pathDel) == labelSet(pathRef))

    // a victim id that cannot cast to the stored doc_id type (here a
    // non-numeric string against a LongType index) is rejected LOUDLY —
    // the cast would null it and the takedown would silently match
    // nothing (the SpanIndex.withLongDocId discipline)
    val uncastable = intercept[IllegalArgumentException] {
      ClusterIndex.delete(Seq("not-a-number").toDF("doc_id"), pathDel)
    }
    assert(uncastable.getMessage.contains("do not cast"))
    assert(labelSet(pathDel) == labelSet(pathRef), "failed delete mutated")
  }

  private def bandSet(path: String): Set[(Long, String)] =
    spark.read.parquet(s"$path/bands").select("doc_id", "bk")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("rebucket: parity, appends use the new geometry, no-op when matched") {
    val pathRe = "target/cluster_index_rebucket"
    val pathRef = "target/cluster_index_rebucket_ref"
    Seq(pathRe, pathRef).foreach(p =>
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively())
    Seq(pathRe, pathRef).foreach(p => ClusterIndex.write(base, p))

    // at the stored design point nothing has drifted and rebucket no-ops
    assert(!ClusterIndex.geometryDrifted(spark, pathRe))
    val m0 = ClusterIndex.meta(spark, pathRe)
    val filesBefore = snapshot(s"$pathRe/labels")
    assert(ClusterIndex.rebucket(spark, pathRe) == m0)
    assert(snapshot(s"$pathRe/labels") == filesBefore, "no-op rewrote files")

    // a corpus 10x past the design point derives a bigger geometry
    val grown = 140000L
    assert(ClusterIndex.geometryDrifted(spark, pathRe,
      countEstimate = Some(grown)))
    val labBefore = labelSet(pathRe)
    val bandsBefore = bandSet(pathRe)
    val nm = ClusterIndex.rebucket(spark, pathRe, countEstimate = Some(grown))
    assert(nm.numParts == OperatingPoint.clusterIndexParts(grown) &&
      nm.bandBuckets == OperatingPoint.bandIndexBuckets(grown))
    assert(nm.numParts > m0.numParts && nm.bandBuckets > m0.bandBuckets)
    assert(ClusterIndex.meta(spark, pathRe) == nm, "_meta not promoted")
    // row content is untouched — only partition routing changed
    assert(labelSet(pathRe) == labBefore)
    assert(bandSet(pathRe) == bandsBefore)
    // every row sits in the bucket the NEW geometry derives for it
    val misrouted = ClusterIndex.labels(spark, pathRe)
      .filter(col("part") =!= pmod(xxhash64(col("component")),
        lit(nm.numParts.toLong)).cast("int")).count()
    assert(misrouted == 0, "labels not re-routed to the new parts")
    // no rebucket residue
    Seq(".rebucket-staging", ".rebucket-commit", ".rebucket-retired")
      .foreach(d => assert(!new java.io.File(s"$pathRe/$d").exists(), d))

    // the artifact stays fully maintainable: an append after the rebucket
    // equals the same append on a never-rebucketed index
    assert(ClusterIndex.append(appendBatch, pathRe).nonEmpty)
    assert(ClusterIndex.append(appendBatch, pathRef).nonEmpty)
    assert(labelSet(pathRe) == labelSet(pathRef),
      "append after rebucket diverged from append without it")
    // and the appended band rows landed under the NEW bucket count
    val maxBkb = spark.read.parquet(s"$pathRe/bands")
      .agg(max("bkb")).head().getInt(0)
    assert(maxBkb >= m0.bandBuckets,
      "appended bands still routed with the old geometry")
  }

  test("rebucket crash windows roll forward; legacy flat bands upgrade") {
    import graft.operators.GeometrySwap
    val path = "target/cluster_index_rebucket_crash"
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    ClusterIndex.write(base, path)
    val lab0 = labelSet(path)
    val bands0 = bandSet(path)
    val grown = 140000L
    val want = ClusterIndex.IndexMeta(OperatingPoint.clusterIndexParts(grown),
      OperatingPoint.bandIndexBuckets(grown), grown)

    // crash with the commit marker durable but nothing swapped: the next
    // maintenance op's entry repair must roll the rebucket FORWARD
    GeometrySwap.failpoint.set("after-marker")
    try intercept[IllegalStateException] {
      ClusterIndex.rebucket(spark, path, countEstimate = Some(grown))
    } finally GeometrySwap.failpoint.set(null)
    assert(ClusterIndex.compact(spark, path).nonEmpty) // entry repair runs
    assert(ClusterIndex.meta(spark, path) == want)
    assert(labelSet(path) == lab0 && bandSet(path) == bands0)

    // crash with every dir swapped but the OLD _meta still live: repair
    // must promote the staged meta (reads under old meta would misprune)
    val path2 = "target/cluster_index_rebucket_crash2"
    new scala.reflect.io.Directory(new java.io.File(path2)).deleteRecursively()
    ClusterIndex.write(base, path2)
    GeometrySwap.failpoint.set("after-swap")
    try intercept[IllegalStateException] {
      ClusterIndex.rebucket(spark, path2, countEstimate = Some(grown))
    } finally GeometrySwap.failpoint.set(null)
    // converge via a second rebucket call (any maintenance op would do)
    assert(ClusterIndex.rebucket(spark, path2,
      countEstimate = Some(grown)) == want)
    assert(ClusterIndex.meta(spark, path2) == want)
    assert(labelSet(path2) == lab0 && bandSet(path2) == bands0)

    // legacy upgrade: a pre-_meta artifact (flat bands, bandBuckets == 0)
    // rebuckets into the modern layout and becomes delete-capable
    val path3 = "target/cluster_index_rebucket_legacy"
    new scala.reflect.io.Directory(new java.io.File(path3)).deleteRecursively()
    ClusterIndex.write(base, path3)
    val flat = spark.read.parquet(s"$path3/bands").select("doc_id", "bk")
      .collect()
    import spark.implicits._
    spark.createDataset(flat.map(r => (r.getLong(0), r.getString(1))))
      .toDF("doc_id", "bk")
      .write.mode("overwrite").parquet(s"$path3/bands")
    new java.io.File(s"$path3/_meta").delete()
    assert(ClusterIndex.meta(spark, path3).bandBuckets == 0)
    val n3 = ClusterIndex.labels(spark, path3).count()
    val m3 = ClusterIndex.rebucket(spark, path3)
    assert(m3.bandBuckets > 0 && m3.n == n3)
    assert(bandSet(path3) == bands0)
    // delete requires a bucketed band index — the upgrade unlocked it
    val someVictims = base.limit(3).select("doc_id")
    assert(ClusterIndex.delete(someVictims, path3).nonEmpty)
  }
}
