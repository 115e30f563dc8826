package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.QuerySpec

/** §2.4 U21 (u21): MULTI-WRITER OPTIMISTIC CONCURRENCY — the lakehouse
  * commit protocol U16 (single-writer write-audit-publish) leaves open:
  * two writers that both read snapshot v must not silently clobber
  * each other. The contract (Delta/Iceberg OCC, public semantics):
  *
  *   1. a writer STAGES its data files untracked under a UUID dir,
  *      then commits by atomically creating the claim file for version
  *      v+1 — and the claim file IS the commit: it carries the staged
  *      data pointer and the touched-partition list in its content,
  *      created in ONE atomic step (temp file + `Files.createLink`,
  *      i.e. hard-link-as-CAS: link(2) is create-if-absent on POSIX
  *      and the content exists before the name does). There is no
  *      separate meta/done window — a claim either exists with its
  *      full manifest or not at all, so a concurrent writer can never
  *      observe a committed version with an empty touched-set (the
  *      lost-update race a claim-then-write-meta protocol has);
  *   2. a LOST CAS is not an error: the writer re-reads the commits
  *      that landed since its snapshot and checks CONFLICTS — if the
  *      interleaved commits touched disjoint partitions, it REBASES
  *      (claims the next version, data unchanged); if they overlap, it
  *      aborts BEFORE claiming (IllegalStateException here — a real
  *      system would re-read and re-derive), so conflicts burn no
  *      version numbers. The interleaved set is immutable at check
  *      time: versions are claimed densely upward (every writer probes
  *      from its snapshot), so when the CAS on v wins, every claim
  *      below v already existed and claims are never retracted;
  *   3. readers resolve a snapshot from the commit log alone: per
  *      partition, the highest claimed version wins (partition-
  *      overwrite semantics). A writer that crashes before its claim
  *      is invisible — its staged UUID dir (and a claim temp file, if
  *      the crash hit the CAS window) is unreferenced garbage, swept
  *      out-of-band by `vacuum` below — never a reader's concern.
  *
  * A claim whose manifest is unreadable (no header — legacy or
  * corrupt) is treated as a CONFLICT by writers and a loud failure by
  * readers, never as "touched nothing": unreadable-means-abort is what
  * keeps a half-understood log from producing a silent lost update.
  *
  * Scale shape: the commit log is O(commits) tiny files; staging is
  * the only data-volume write and lands in final position (no move);
  * conflict detection reads only the interleaved commits' manifests,
  * never data. The spec drives two writers through a lost CAS + rebase,
  * a genuine overlap abort, a concurrent claim-racing interleaving, and
  * a corrupt-manifest abort; the u21 query runs the deterministic
  * disjoint-writer interleaving end-to-end and hash-gates the resolved
  * table against the oracle's arithmetic.
  */
object OptimisticCommit {

  private def commitsDir(root: String) = s"$root/_commits"
  private val ClaimHeader = "graft-occ-claim-v1"

  /** Highest claimed version (0 = empty table). A claim IS a commit. */
  def currentVersion(root: String): Int = {
    val d = Paths.get(commitsDir(root))
    if (!Files.isDirectory(d)) 0
    else {
      val it = Files.list(d)
      try {
        it.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
          .asScala
          .map(_.getFileName.toString)
          .collect { case s if s.startsWith("v") && s.endsWith(".claim") =>
            s.stripPrefix("v").stripSuffix(".claim").toInt }
          .foldLeft(0)(math.max)
      } finally it.close()
    }
  }
  private implicit class RichIt[A](val it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }

  /** Parsed claim manifest: (staged data dir, touched partitions). */
  private[operators] final case class Manifest(dataDir: String, touched: Set[String])

  /** Raw claim lines for version `v`; None if no claim exists. */
  private def rawClaim(root: String, v: Int): Option[Seq[String]] = {
    val p = Paths.get(commitsDir(root), s"v$v.claim")
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), "UTF-8").split("\n", -1).toSeq)
  }

  /** Manifest of a claimed version; throws on a corrupt/legacy claim
    * (readers must fail loudly, never resolve a partial log). */
  private[operators] def manifestOf(root: String, v: Int): Option[Manifest] =
    rawClaim(root, v).map { lines =>
      if (!lines.headOption.contains(ClaimHeader) || lines.length < 2)
        throw new IllegalStateException(
          s"u21: claim v$v has an unreadable manifest — refusing to resolve the log")
      Manifest(lines(1), lines.drop(2).filter(_.nonEmpty).toSet)
    }

  /** Writer-side view: None = claim unreadable → caller must treat as
    * CONFLICT (abort/retry), never as an empty touched-set. */
  private[operators] def manifestIfReadable(root: String, v: Int): Option[Option[Manifest]] =
    try Some(manifestOf(root, v))
    catch { case _: IllegalStateException => None }

  /** Touched partitions of a claimed version (empty if unclaimed). */
  def touchedOf(root: String, version: Int): Set[String] =
    manifestOf(root, version).map(_.touched).getOrElse(Set.empty)

  /** Atomic CAS claim of `version`, content-carrying: the manifest is
    * written to a temp file and the claim name is hard-linked onto it —
    * creation and content are one atomic step. True iff this writer
    * won the version. */
  private[operators] def tryClaim(root: String, version: Int,
                                  dataDir: String, touched: Set[String]): Boolean = {
    Files.createDirectories(Paths.get(commitsDir(root)))
    val claim = Paths.get(commitsDir(root), s"v$version.claim")
    if (Files.exists(claim)) return false // cheap pre-check; CAS below decides
    val tmp = Files.createTempFile(Paths.get(commitsDir(root)), s".v$version-", ".tmp")
    try {
      Files.write(tmp,
        (Seq(ClaimHeader, dataDir) ++ touched.toSeq.sorted).mkString("\n").getBytes("UTF-8"))
      try { Files.createLink(claim, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  /** Commit `df` (hive-partitioned by `partCol`) against snapshot
    * `readVersion` with OCC. Returns the committed version. Throws
    * IllegalStateException on a partition-overlap conflict (before any
    * version is claimed — conflicts burn nothing). */
  def commit(df: DataFrame, root: String, partCol: String,
             readVersion: Int, maxRetries: Int = 10): Int = {
    val touched = df.select(col(partCol)).distinct()
      .collect().map(_.get(0).toString).toSet
    val staged = s"$root/data/${java.util.UUID.randomUUID()}"
    df.write.partitionBy(partCol).mode("overwrite").parquet(staged)
    var attempt = readVersion + 1
    while (attempt <= readVersion + math.max(1, maxRetries)) {
      // conflict-check the commits interleaved between our snapshot and
      // this attempt BEFORE claiming: all of (readVersion, attempt) is
      // already claimed (versions fill densely upward) and claims are
      // immutable, so the set cannot grow under us for THIS attempt —
      // if the CAS below loses, the next loop re-checks the new claim.
      val overlap = ((readVersion + 1) until attempt).flatMap { v =>
        manifestIfReadable(root, v) match {
          case Some(m) => m.map(_.touched).getOrElse(Set.empty[String])
          case None =>
            graft.Scratch.delete(staged)
            throw new IllegalStateException(
              s"u21 conflict: claim v$v has an unreadable manifest — " +
              "treating as conflicting (never as empty)")
        }
      }.toSet.intersect(touched)
      if (overlap.nonEmpty) {
        graft.Scratch.delete(staged)
        throw new IllegalStateException(
          s"u21 conflict: partitions ${overlap.toSeq.sorted.mkString(",")} " +
          s"were modified by a concurrent commit since v$readVersion")
      }
      if (tryClaim(root, attempt, staged, touched)) return attempt
      attempt += 1 // lost the CAS: rebase onto the next version
    }
    graft.Scratch.delete(staged)
    throw new IllegalStateException(s"u21: gave up after $maxRetries rebase attempts")
  }

  /** Snapshot read: per partition the highest committed version wins. */
  /** Out-of-band GC of the two orphan classes a crashed writer leaves:
    * (a) staged UUID data dirs no claim references (crash before the
    * CAS), and (b) stale `.vN-*.tmp` claim-manifest temp files in
    * `_commits/` (crash between createTempFile and the cleanup
    * `finally`) — harmless to version resolution (readers filter on the
    * `v` prefix) but disk leaks forever without this sweep.
    * `olderThanMs` is the in-flight-writer grace window: a writer that
    * is staging RIGHT NOW has no claim yet and would be swept, so
    * production runs pass a window ≫ the longest stage+commit time
    * (the Delta VACUUM retention idea). Returns (orphan dirs, tmp
    * files) deleted. */
  def vacuum(root: String, olderThanMs: Long = 0L): (Int, Int) = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    def stale(p: java.nio.file.Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis <= cutoff
      catch { case _: java.io.IOException => false } // raced away = done
    def ls(dir: java.nio.file.Path): List[java.nio.file.Path] =
      if (!Files.isDirectory(dir)) Nil
      else { val s = Files.list(dir); try s.iterator().asScala.toList finally s.close() }
    val referenced = (1 to currentVersion(root))
      .flatMap(v => manifestOf(root, v)).map(_.dataDir)
      .map(d => Paths.get(d).toAbsolutePath.normalize.toString).toSet
    val tmps = ls(Paths.get(commitsDir(root)))
      .filter(p => p.getFileName.toString.startsWith(".") &&
                   p.getFileName.toString.endsWith(".tmp") && stale(p))
    tmps.foreach(Files.deleteIfExists(_))
    val orphans = ls(Paths.get(root, "data"))
      .filter(p => !referenced.contains(p.toAbsolutePath.normalize.toString) && stale(p))
    orphans.foreach(p => graft.Scratch.delete(p.toString))
    (orphans.size, tmps.size)
  }

  def read(spark: SparkSession, root: String, partCol: String): DataFrame = {
    val cur = currentVersion(root)
    val byPart = scala.collection.mutable.Map[String, (Int, String)]()
    (1 to cur).foreach { v =>
      manifestOf(root, v).foreach(m =>
        m.touched.foreach(p => byPart(p) = (v, m.dataDir)))
    }
    if (byPart.isEmpty) spark.emptyDataFrame
    else byPart.groupBy(_._2).map { case ((_, dataDir), parts) =>
      spark.read.option("basePath", dataDir)
        .parquet(parts.keys.toSeq.sorted.map(p => s"$dataDir/$partCol=$p"): _*)
    }.reduce(_ unionByName _)
  }

  private def bucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 8

  /** u21: base load (all 8 md5 buckets) at v1, then two writers that
    * both read v1 — A rewrites buckets 0,1 (+100), B rewrites buckets
    * 2,3 (+200). A claims v2; B loses the CAS, verifies disjointness,
    * rebases to v3. Output: per-bucket resolved state + the version
    * that owns each bucket — the protocol's outcome, hash-gated. */
  def u21OccQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.Scratch.collected("occ") { root =>
      val base = graft.Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
        .withColumn("bkt", bucket(col("k")).cast("string"))
      val v1 = commit(base, root, "bkt", 0)
      require(v1 == 1, s"base commit got v$v1")
      // both writers snapshot v1, then land in claim order A, B
      val a = base.filter(col("bkt").isin("0", "1"))
        .withColumn("price", col("price") + 100.0)
      val b = base.filter(col("bkt").isin("2", "3"))
        .withColumn("price", col("price") + 200.0)
      val va = commit(a, root, "bkt", readVersion = 1)
      val vb = commit(b, root, "bkt", readVersion = 1) // lost CAS → rebase
      require(va == 2 && vb == 3, s"protocol order broke: A=v$va B=v$vb")
      // hive partition inference types bkt as INT; the table contract
      // (and the oracle) carry it as STRING
      read(spark, root, "bkt")
        .groupBy(col("bkt").cast("string").as("bkt"))
        .agg(count(lit(1)).as("n_rows"),
             // integer-cents sum: association-free at any scale (s13)
             round(sum(round(col("price") * 100).cast("long")) / 100.0, 2)
               .as("sum_price"))
        .orderBy(col("bkt"))
    }
  }

  /** DuckDB replay: the resolved table is pure arithmetic — buckets
    * 0,1 carry +100, buckets 2,3 carry +200, the rest the base. */
  val oracleSql: String =
    """WITH b AS (
         SELECT o_orderkey AS k, o_totalprice AS price,
           CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 8
                AS VARCHAR) AS bkt
         FROM orders),
       resolved AS (
         SELECT bkt,
           CASE WHEN bkt IN ('0', '1') THEN price + 100.0
                WHEN bkt IN ('2', '3') THEN price + 200.0
                ELSE price END AS price
         FROM b)
       SELECT bkt, count(*) AS n_rows, round(sum(CAST(round(price * 100) AS BIGINT)) / 100.0, 2) AS sum_price
       FROM resolved GROUP BY bkt ORDER BY bkt"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("u21_occ_commit", u21OccQuery, Some(oracleSql)))
}
