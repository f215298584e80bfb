package graft.operators

import graft.SparkSpec

/** Commit-protocol unit coverage for [[SegmentManifest]] that the
  * index-level specs don't reach: the legacy-upgrade bootstrap must
  * treat write-once crash debris as invisible, exactly like the
  * sealed-mode reader does. */
class SegmentManifestSpec extends SparkSpec {

  private def fs(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("bootstrap skips token-suffixed crash debris: a books_" +
      "<gen>-<token> dir left by a rebuild that died before its " +
      "first seal must not wedge the upgrade path") {
    val dir = scratch("smf_debris").toString
    val f = fs(dir)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/centroid_id=3"))
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/centroid_id=11"))
    // the debris: a write-once books dir staged by ivfPqRebuildMvcc
    // whose seal never happened — unreferenced, supposed to be
    // invisible until vacuum, and previously a NumberFormatException
    // that permanently wedged every bootstrap retry
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/books_1-deadbeef"))
    val m = SegmentManifest.bootstrap(spark, dir,
      Seq(SegmentManifest.CellLayout, SegmentManifest.BooksLayout))
    assert(m.gen == 0)
    assert(m.entries("cells").map(_.seg) == Seq(3, 11),
      s"got ${m.entries("cells")}")
    assert(m.entries("books").isEmpty,
      "unreferenced books debris folded into generation 0")
  }

  test("the seal-publisher seam is load-bearing: through a " +
      "deliberately NON-atomic publisher two racing sealers BOTH win " +
      "(the lost-update), through the real one the loser fails " +
      "loudly and the winner's manifest survives bit-intact") {
    val dir = scratch("smf_seam").toString
    val f = fs(dir)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    f.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val mA = SegmentManifest.Manifest(1,
      Map("cells" -> Seq(SegmentManifest.Entry(0, "centroid_id=0"))))
    val mB = SegmentManifest.Manifest(1,
      Map("cells" -> Seq(SegmentManifest.Entry(7, "centroid_id=7"))))
    // the fake: check-then-copy with no exclusivity — what a raw
    // object store's best-effort publish actually is. Both sealers
    // "succeed"; the second silently clobbers the first. This is the
    // exact failure the scheme-resolved publishers exist to prevent,
    // and why raw object-store schemes are rejected outright.
    object NonAtomic extends SegmentManifest.SealPublisher {
      def publish(hfs: org.apache.hadoop.fs.FileSystem,
                  tmp: org.apache.hadoop.fs.Path,
                  dst: org.apache.hadoop.fs.Path,
                  lost: String => Exception): Unit = {
        val in = hfs.open(tmp)
        val bytes =
          try {
            val b = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, b, 4096, false)
            b.toByteArray
          } finally in.close()
        val out = hfs.create(dst, true) // overwrite: no exclusivity
        try out.write(bytes) finally out.close()
      }
    }
    SegmentManifest.seal(spark, dir, mA, Some(NonAtomic))
    SegmentManifest.seal(spark, dir, mB, Some(NonAtomic)) // no error!
    assert(SegmentManifest.latest(spark, dir).get
        .entries("cells").map(_.seg) == Seq(7),
      "expected the non-atomic publisher to demonstrate the lost " +
        "update (writer A's sealed generation silently replaced)")
    // the real protocol on the same store: the loser collides loudly
    // and the winner's composition survives untouched
    val dir2 = scratch("smf_seam2").toString
    f.delete(new org.apache.hadoop.fs.Path(dir2), true)
    f.mkdirs(new org.apache.hadoop.fs.Path(dir2))
    SegmentManifest.seal(spark, dir2, mA)
    val e = intercept[IllegalStateException] {
      SegmentManifest.seal(spark, dir2, mB)
    }
    assert(e.getMessage.contains("concurrent writer"), s"wrong: $e")
    assert(SegmentManifest.latest(spark, dir2).get
      .entries("cells").map(_.seg) == Seq(0))
  }

  test("raw object-store schemes fail fast at publisher resolution " +
      "instead of sealing best-effort") {
    // a LocalFileSystem masquerading as raw S3 — only the scheme
    // matters to the resolution rule
    val fake = new org.apache.hadoop.fs.LocalFileSystem() {
      override def getScheme: String = "s3a"
    }
    val e = intercept[UnsupportedOperationException] {
      SegmentManifest.publisherFor(fake)
    }
    assert(e.getMessage.contains("atomic rename-if-absent") &&
      e.getMessage.contains("s3a"), s"wrong: $e")
    // and the HDFS class resolves to the rename publisher
    val hdfsLike = new org.apache.hadoop.fs.LocalFileSystem() {
      override def getScheme: String = "hdfs"
    }
    assert(SegmentManifest.publisherFor(hdfsLike) eq
      SegmentManifest.HdfsRenamePublisher)
    // ADLS schemes fail fast like any other object store
    for (scheme <- Seq("abfs", "abfss")) {
      val adls = new org.apache.hadoop.fs.LocalFileSystem() {
        override def getScheme: String = scheme
      }
      val ea = intercept[UnsupportedOperationException] {
        SegmentManifest.publisherFor(adls)
      }
      assert(ea.getMessage.contains("atomic rename-if-absent") &&
        ea.getMessage.contains(scheme), s"wrong: $ea")
    }
    // a stale deployment conf naming the retired opt-in keys gets no
    // silent non-exclusive seal: the scheme alone decides
    val stale = new org.apache.hadoop.conf.Configuration(false)
    stale.set("graft.seal.singledriver", "true")
    stale.set("graft.seal.condput.store",
      "graft.operators.SegmentManifest$AtomicCreateStore")
    val s3Stale = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def getScheme: String = "s3a"
    }
    s3Stale.setConf(stale)
    val es = intercept[UnsupportedOperationException] {
      SegmentManifest.publisherFor(s3Stale)
    }
    assert(es.getMessage.contains("atomic rename-if-absent") &&
      es.getMessage.contains("s3a"), s"wrong: $es")
    // and local filesystems hard-link
    assert(SegmentManifest.publisherFor(
      new org.apache.hadoop.fs.LocalFileSystem()) eq
      SegmentManifest.PosixLinkPublisher)
  }

  test("read() schema inference recurses one level: a member whose " +
      "parquet sits in a partitioned subdirectory is NOT classified " +
      "as empty, so an empty head member no longer fails inference " +
      "when the data exists one level down") {
    import spark.implicits._
    val dir = scratch("smf_nested").toString
    val f = fs(dir)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    // seg=1: empty (crash debris); seg=2: data one level down in a
    // hive-partitioned subdir — the old top-level-only scan saw both
    // as empty and fell back to the head, failing inference
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/cells/seg=1"))
    Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "p")
      .write.partitionBy("p").parquet(s"$dir/cells/seg=2")
    val m = SegmentManifest.Manifest(0, Map("cells" -> Seq(
      SegmentManifest.Entry(1, "cells/seg=1"),
      SegmentManifest.Entry(2, "cells/seg=2"))))
    val out = SegmentManifest.read(spark, dir, m, "cells").get
      .select("id", "v", "seg").orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSeq == Seq((1L, "a", 2), (2L, "b", 2)), out.mkString(","))
  }

  test("read() infers the layout schema from the first member that " +
      "actually holds data files — an empty leading member (crash " +
      "debris a legacy bootstrap folded in) reads as zero rows " +
      "instead of failing inference for the whole layout") {
    import spark.implicits._
    val dir = scratch("smf_emptyhead").toString
    val f = fs(dir)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    // seg=1: an empty directory (the debris); seg=2: real rows
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/cells/seg=1"))
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$dir/cells/seg=2")
    val m = SegmentManifest.Manifest(0, Map("cells" -> Seq(
      SegmentManifest.Entry(1, "cells/seg=1"),
      SegmentManifest.Entry(2, "cells/seg=2"))))
    val out = SegmentManifest.read(spark, dir, m, "cells").get
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSeq == Seq((1L, "a", 2), (2L, "b", 2)), out.mkString(","))
  }

  test("read() schema memo invalidates on an in-place member rewrite " +
      "(mtime-keyed): a replayed append that changes the member's " +
      "schema resolves the FRESH schema, and a _rev rewrite (new " +
      "location) infers fresh by construction") {
    import spark.implicits._
    val dir = scratch("smf_memo").toString
    val f = fs(dir)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/cells/seg=1")
    val m = SegmentManifest.Manifest(0, Map("cells" -> Seq(
      SegmentManifest.Entry(1, "cells/seg=1"))))
    // first read memoizes the inferred (id, v) schema by (loc, mtime)
    assert(SegmentManifest.read(spark, dir, m, "cells").get
      .columns.toSeq == Seq("id", "v", "seg"))
    // in-place rewrite with a DIFFERENT schema — the replayed-append /
    // unsanctioned-edit shape a location-only memo is blind to
    Seq((1L, 9L)).toDF("id", "w").write.mode("overwrite")
      .parquet(s"$dir/cells/seg=1")
    // pin a strictly newer mtime so the check never depends on the
    // filesystem's timestamp granularity
    val p = new org.apache.hadoop.fs.Path(s"$dir/cells/seg=1")
    f.setTimes(p, f.getFileStatus(p).getModificationTime + 1000L, -1)
    assert(SegmentManifest.read(spark, dir, m, "cells").get
      .columns.toSeq == Seq("id", "w", "seg"))
    // a maintenance rewrite under _rev/ is a NEW location — never
    // keyed to the old member's memo entry
    Seq((1L, 3.5)).toDF("id", "x").write
      .parquet(s"$dir/_rev/g1-feedcafe/cells/seg=1")
    val m2 = SegmentManifest.Manifest(1, Map("cells" -> Seq(
      SegmentManifest.Entry(1, "_rev/g1-feedcafe/cells/seg=1"))))
    assert(SegmentManifest.read(spark, dir, m2, "cells").get
      .columns.toSeq == Seq("id", "x", "seg"))
  }

  test("audit (fsck): healthy on an intact layout, names missing and " +
      "emptied referenced members, tolerates one-level nesting, skips " +
      "marker layouts, and counts unreferenced dirs as vacuum debt") {
    val dir = scratch("smf_audit").toString
    val f = fs(dir)
    val specs = Seq(SegmentManifest.CellLayout)
    def path(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")
    def touch(s: String): Unit = {
      f.mkdirs(path(s).getParent)
      val out = f.create(path(s), true)
      try out.write("x".getBytes("UTF-8")) finally out.close()
    }
    f.delete(path(""), true)
    touch("centroid_id=0/part-0")
    touch("centroid_id=1/part-0")
    SegmentManifest.seal(spark, dir, SegmentManifest.Manifest(1, Map(
      "cells" -> Seq(SegmentManifest.Entry(0, "centroid_id=0"),
        SegmentManifest.Entry(1, "centroid_id=1")),
      // marker: references no directory, must never be a finding
      SegmentManifest.ModelMarker ->
        Seq(SegmentManifest.Entry(3, "model=g3")))))
    val r0 = SegmentManifest.audit(spark, dir, specs)
    assert(r0.healthy && r0.generations == Seq(1) &&
      r0.unreferencedDirs == 0, s"got $r0")

    // vacuum debt: debris cell + a staged _rev dir, both unreferenced
    f.mkdirs(path("centroid_id=9"))
    f.mkdirs(path("_rev/g2-deadbeef/centroid_id=3"))
    val r1 = SegmentManifest.audit(spark, dir, specs)
    assert(r1.healthy && r1.unreferencedDirs == 2, s"got $r1")

    // external damage: one member deleted, one emptied
    f.delete(path("centroid_id=0"), true)
    f.delete(path("centroid_id=1/part-0"), false)
    val r2 = SegmentManifest.audit(spark, dir, specs)
    assert(!r2.healthy, s"got $r2")
    assert(r2.findings.toSet == Set(
      SegmentManifest.AuditFinding(1, "cells", "centroid_id=0",
        "missing"),
      SegmentManifest.AuditFinding(1, "cells", "centroid_id=1",
        "empty")), s"got ${r2.findings}")

    // one-level nesting counts as data (the read()'s own rule)
    touch("centroid_id=0/sub/part-0")
    touch("centroid_id=1/part-0")
    assert(SegmentManifest.audit(spark, dir, specs).healthy)
  }

  test("audit derives its debt-sweep specs from the layouts the " +
      "retained manifests actually reference — a cell/books index " +
      "audited without specs counts its debris instead of sweeping " +
      "nonexistent lexical roots and misreporting 0; any lexical " +
      "layout pulls in the whole family; unknown layouts are loud") {
    val dir = scratch("smf_audit_derive").toString
    val f = fs(dir)
    def path(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")
    def touch(s: String): Unit = {
      f.mkdirs(path(s).getParent)
      val out = f.create(path(s), true)
      try out.write("x".getBytes("UTF-8")) finally out.close()
    }
    f.delete(path(""), true)
    touch("centroid_id=0/part-0")
    touch("books_1-aaaa/part-0")
    SegmentManifest.seal(spark, dir, SegmentManifest.Manifest(1, Map(
      "cells" -> Seq(SegmentManifest.Entry(0, "centroid_id=0")),
      "books" -> Seq(SegmentManifest.Entry(1, "books_1-aaaa")),
      SegmentManifest.ModelMarker ->
        Seq(SegmentManifest.Entry(3, "model=g3")))))
    // debris in BOTH vector layouts — the old LexicalLayouts default
    // swept neither and read unreferencedDirs = 0
    f.mkdirs(path("centroid_id=9"))
    touch("books_2-bbbb/part-0")
    val r = SegmentManifest.audit(spark, dir)
    assert(r.healthy && r.unreferencedDirs == 2, s"got $r")

    // lexical family: a manifest referencing only postings (tombstones
    // emptied out) still sweeps the whole family's roots for debt
    val lex = scratch("smf_audit_derive_lex").toString
    val lf = fs(lex)
    lf.delete(new org.apache.hadoop.fs.Path(lex), true)
    def ltouch(s: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$lex/$s")
      lf.mkdirs(p.getParent)
      val out = lf.create(p, true)
      try out.write("x".getBytes("UTF-8")) finally out.close()
    }
    ltouch("postings/seg=0/part-0")
    SegmentManifest.seal(spark, lex, SegmentManifest.Manifest(1, Map(
      "postings" -> Seq(SegmentManifest.Entry(0, "postings/seg=0")))))
    lf.mkdirs(new org.apache.hadoop.fs.Path(s"$lex/tombstones/seg=9"))
    val rl = SegmentManifest.audit(spark, lex)
    assert(rl.healthy && rl.unreferencedDirs == 1, s"got $rl")

    // an unknown layout name cannot be swept silently-partially
    val odd = scratch("smf_audit_derive_odd").toString
    val of = fs(odd)
    of.delete(new org.apache.hadoop.fs.Path(odd), true)
    def otouch(s: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$odd/$s")
      of.mkdirs(p.getParent)
      val out = of.create(p, true)
      try out.write("x".getBytes("UTF-8")) finally out.close()
    }
    otouch("weird/w=0/part-0")
    SegmentManifest.seal(spark, odd, SegmentManifest.Manifest(1, Map(
      "weird" -> Seq(SegmentManifest.Entry(0, "weird/w=0")))))
    val e = intercept[IllegalArgumentException] {
      SegmentManifest.audit(spark, odd)
    }
    assert(e.getMessage.contains("weird") &&
      e.getMessage.contains("pass `specs`"), s"wrong: $e")
    // and passing the spec explicitly still works
    val rOdd = SegmentManifest.audit(spark, odd,
      Seq(SegmentManifest.LayoutSpec("weird", "weird", "w=", "w")))
    assert(rOdd.healthy && rOdd.unreferencedDirs == 0, s"got $rOdd")
  }
}
