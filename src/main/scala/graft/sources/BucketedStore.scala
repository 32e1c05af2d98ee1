package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.functions.col

/** Versioned bucketed metastore tables behind ONE atomic view pointer
  * — the shared persistence protocol of graft's probe-every-batch
  * indexes ([[graft.dedup.TextDedup]]'s bucketed dedup index,
  * [[graft.ann.AnnIndex]]'s IVF-PQ index, [[graft.text.Search]]'s BM25
  * index) and of the c6b selection artifacts. The parquet-file
  * analogue for whole snapshots is [[SnapshotStore]].
  *
  * Each store kind declares its members once, as a [[Layout]], and
  * the Layout alone runs the lifecycle: [[Layout.pin]] (every
  * consistent reader's entry), [[Layout.commit]], [[Layout.drop]] and
  * the idempotent-build gate [[Layout.ensure]].
  *
  * The catalog layout is a CONTRACT (consumers and the benchmark
  * harness count members from it). Per store `name` with member
  * suffixes t1..tn:
  *  - data: `<name>_<t>_v<N>` managed tables; members with bucket
  *    columns are repartitioned to one file per bucket and written
  *    `bucketBy(buckets, cols).sortBy(cols)`, so a consumer join on
  *    those columns plans NO exchange on this side (views are logical
  *    aliases — the bucketed scan's output partitioning survives
  *    them); members without bucket columns are small broadcast-side
  *    tables. A carried member is a `<name>_<t>_v<N>` VIEW onto an
  *    older version's physical table.
  *  - pointer: `<name>_ptr`, a literal `SELECT N AS version` view
  *    swapped by a single CREATE OR REPLACE — the ONLY consistency
  *    mechanism. Readers resolve it once and read `_<t>_v<N>`
  *    directly, so a reader planned mid-commit sees a complete
  *    version, never a torn mix of member tables.
  *  - convenience: `<name>_<t>` per-member views for ad-hoc SQL,
  *    repointed AFTER the ptr, sequentially, each by a drop and a
  *    create — NOT safe for queries joining across members, and a
  *    query naming one can briefly find it missing mid-commit.
  *
  * Single-writer, like every log-less table format; exactly one prior
  * version is retained for in-flight readers, older versions drop at
  * commit.
  */
object BucketedStore {

  /** One member of a store kind. Empty `bucketCols` = plain (tiny,
    * broadcast-side) table; an `optional` member may be absent from a
    * version (e.g. an index written without metadata columns). */
  final case class Member(suffix: String, bucketCols: Seq[String] = Nil,
                          optional: Boolean = false)

  /** A member whose content is UNCHANGED from `fromVersion` — the new
    * version's table is published as a version-pinned VIEW onto the
    * prior version's PHYSICAL table instead of rewriting the bytes.
    * This is what makes the maintenance legs whose contracts say
    * "only member X recomputes" (dedup reband: only `bands`; ANN
    * retrain: everything but `vectors`) actually cost that at scale —
    * without it every commit rewrites the corpus-sized unchanged
    * member, a full-corpus write a 100 TB reband cannot afford.
    * Readers are unaffected: a view is a logical alias, the bucketed
    * scan's output partitioning/ordering survive it (the convenience-
    * view premise, spec-asserted by the probe plan specs), and
    * retention never drops a physical table a retained version's view
    * still resolves to. */
  final case class Carry(suffix: String, fromVersion: Int)

  /** One store kind's declared members; `kind` names it in errors. */
  final case class Layout(kind: String, members: Seq[Member]) {
    val suffixes: Seq[String] = members.map(_.suffix)

    /** Pin the committed current version of store `name`; throws when
      * the store has no ptr. */
    def pin(spark: SparkSession, name: String): Pinned =
      at(spark, name, currentVersion(spark, name).getOrElse(
        throw new IllegalStateException(s"no $kind index named $name")))

    /** Version `version` of store `name`, addressed without the ptr. */
    def at(spark: SparkSession, name: String, version: Int): Pinned =
      new Pinned(spark, this, name, version)

    /** Write `frames` (keyed by member suffix) as the next version of
      * store `name` and publish `carry` as views, swap the ptr, refresh
      * the convenience views, drop versions behind the retained window.
      * Every member is written or carried; an optional member may be
      * absent. Returns the committed version.
      *
      * Member writes run CONCURRENTLY (one driver thread each — the
      * overlap-independent-jobs pattern): the member tables of one
      * version share no dependency, and writing them sequentially
      * leaves the cluster idle through each write job's scheduling tail
      * and file-commit protocol — measured locally as the dominant cost
      * of every index lifecycle entry (each commit is 3-6 saveAsTable
      * jobs over tiny frames). At cluster scale the same overlap
      * backfills executors freed by one member's straggler tasks with
      * the next member's tasks. Every write finishes before a failure
      * propagates, and a failure propagates before the ptr swap, so a
      * failed member write never publishes a version and leaves no
      * write running into the next commit; the swap itself stays
      * strictly AFTER every member is fully written, preserving the
      * reader guarantee (a resolved version is always complete). */
    def commit(spark: SparkSession, name: String,
               frames: Map[String, DataFrame], buckets: Int,
               carry: Seq[Carry] = Nil): Int = {
      val v = currentVersion(spark, name).getOrElse(-1) + 1
      val carried = carry.map(_.suffix).toSet
      require(carry.forall(c => c.fromVersion >= 0 && c.fromVersion < v),
        s"carry versions must be committed and behind v$v: $carry")
      require((frames.keySet ++ carried).subsetOf(suffixes.toSet) &&
        !frames.keySet.exists(carried),
        s"$kind members $suffixes: writes ${frames.keySet}, carries $carried")
      members.foreach { m =>
        require(m.optional || frames.contains(m.suffix) || carried(m.suffix),
          s"$kind member '${m.suffix}' is neither written nor carried")
      }
      val writes: Seq[() => Unit] =
        members.filter(m => frames.contains(m.suffix)).map { m => () =>
          val df = frames(m.suffix)
          val w = m.bucketCols match {
            case Nil => df.write.mode("overwrite")
            case cols =>
              // one file per bucket (repartition on the bucket key
              // first) so the scan keeps per-bucket sort order as well
              // as the partitioning
              df.repartition(buckets, cols.map(col): _*)
                .write.mode("overwrite")
                .bucketBy(buckets, cols.head, cols.tail: _*)
                .sortBy(cols.head, cols.tail: _*)
          }
          w.saveAsTable(qualified(spark, memberTable(name, m.suffix, v)))
        }
      if (writes.size <= 1) writes.foreach(_())
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size)
        try {
          val futs = writes.map(wr => pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = wr()
          }))
          // wait for EVERY member, then rethrow the first failure — the
          // ptr swap below is unreachable unless every member landed
          futs.flatMap { f =>
            try { f.get(); None }
            catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
          }.headOption.foreach(e => throw e)
        } finally { pool.shutdown(): Unit }
      }
      // carried members publish as version-pinned views onto the backing
      // PHYSICAL table — resolved now so view chains never form (a later
      // carry of the same member resolves through this version's view to
      // the same physical table). Published BEFORE the ptr swap like the
      // written members: a resolved version is always complete.
      carry.foreach { c =>
        val p = physicalVersion(spark, name, c.suffix, c.fromVersion)
        val t = memberTable(name, c.suffix, v)
        // a crashed prior commit (data down, ptr never swapped) can
        // leave a stray object at this name — clear it by its own type
        if (exists(spark, t)) {
          if (isView(spark, t)) spark.sql(s"DROP VIEW ${qualified(spark, t)}")
          else spark.sql(s"DROP TABLE ${qualified(spark, t)}")
        }
        spark.sql(s"CREATE VIEW ${qualified(spark, t)} AS " +
          s"SELECT * FROM ${qualified(spark, memberTable(name, c.suffix, p))}")
      }
      // the ptr stays CREATE OR REPLACE — ITS swap is the protocol's
      // atomicity, and its literal body sameResults nothing cacheable
      spark.sql(s"CREATE OR REPLACE VIEW ${qualified(spark, s"${name}_ptr")} AS " +
        s"SELECT $v AS version")
      // convenience views repoint WITHOUT the replace-command's cache
      // cascade (see dropViewNoUncache — replacing `SELECT * FROM
      // <old member>` would uncache valid caches over the old member
      // table). Drop+create is not atomic, but convenience views are
      // declared ad-hoc-only (scaladoc): consistent readers resolve the
      // ptr and address pinned versions, never these.
      suffixes.filter(s => frames.contains(s) || carried(s)).foreach { sfx =>
        dropViewNoUncache(spark, s"${name}_$sfx")
        spark.sql(s"CREATE VIEW ${qualified(spark, s"${name}_$sfx")} AS " +
          s"SELECT * FROM ${qualified(spark, memberTable(name, sfx, v))}")
      }
      // retain exactly one prior version for in-flight readers — PLUS
      // any older physical table a retained version's carried view still
      // resolves to (dropping it would silently break the view)
      val keepPhysical: Set[(String, Int)] = (math.max(0, v - 1) to v)
        .flatMap { rv =>
          suffixes.flatMap { sfx =>
            if (exists(spark, memberTable(name, sfx, rv)))
              Some(sfx -> physicalVersion(spark, name, sfx, rv))
            else None
          }
        }.toSet
      (0 to v - 2).foreach { old =>
        suffixes.foreach { sfx =>
          val t = memberTable(name, sfx, old)
          if (exists(spark, t)) {
            // version-pinned views drop WITHOUT the cache cascade (they
            // alias a retained physical table whose caches stay valid);
            // physical tables keep the full DROP TABLE semantics — their
            // files are deleted, so dependent caches MUST invalidate
            if (isView(spark, t))
              dropViewNoUncache(spark, t)
            else if (!keepPhysical.contains(sfx -> old))
              spark.sql(s"DROP TABLE IF EXISTS ${qualified(spark, t)}")
          }
        }
      }
      v
    }

    /** Drop every catalog object and on-disk remnant of store `name`:
      * ptr + convenience views, all versioned tables, and orphaned
      * managed-table directories under the session's warehouse (a
      * crashed prior JVM leaves directories with no catalog entry — the
      * in-memory catalog forgets them — and the next `saveAsTable` then
      * fails with LOCATION_ALREADY_EXISTS). */
    def drop(spark: SparkSession, name: String): Unit = {
      (s"${name}_ptr" +: suffixes.map(t => s"${name}_$t"))
        .foreach(v => spark.sql(s"DROP VIEW IF EXISTS ${qualified(spark, v)}"))
      val pat = (java.util.regex.Pattern.quote(name) +
        "_(?:" + suffixes.mkString("|") + ")_v\\d+").r
      // versioned members may be physical tables OR carried views —
      // DROP TABLE on a view throws, so route by catalog type. Views
      // drop first (a view may reference a physical sibling). Session
      // temp views are listed too; they are never the store's.
      val versioned = spark.catalog.listTables().collect()
        .filter(t => !t.isTemporary && pat.matches(t.name))
      versioned.filter(_.tableType == "VIEW")
        .foreach(t => spark.sql(s"DROP VIEW IF EXISTS ${qualified(spark, t.name)}"))
      versioned.filter(_.tableType != "VIEW")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${qualified(spark, t.name)}"))
      localWarehouseDir(spark).foreach { wh =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        Option(wh.listFiles())
          .foreach(_.filter(f => pat.matches(f.getName)).foreach(rm))
      }
    }

    /** The idempotent-build gate: unless store `name` already holds
      * version `complete` (where its full `build` ends), drop whatever
      * partial state is there and run `build`. Gating on the COMPLETE
      * version, not on existence, detects a build torn between its
      * commits. Returns the pinned complete version. */
    def ensure(spark: SparkSession, name: String, complete: Int)
              (build: => Unit): Pinned = {
      if (!currentVersion(spark, name).contains(complete)) {
        drop(spark, name)
        build
      }
      val p = pin(spark, name)
      if (p.version != complete) throw new IllegalStateException(
        s"$kind store $name built to v${p.version}, expected v$complete")
      p
    }
  }

  /** One version of a store: every member read at the same version. */
  final class Pinned private[BucketedStore] (spark: SparkSession,
      layout: Layout, val name: String, val version: Int) {
    private def known(sfx: String): String = {
      require(layout.suffixes.contains(sfx), s"'$sfx' is not a ${layout.kind} member")
      sfx
    }

    /** Member `sfx` at this version. */
    def table(sfx: String): DataFrame =
      spark.table(qualified(spark, memberTable(name, known(sfx), version)))

    /** Whether this version holds member `sfx` (optional members may
      * be absent). */
    def has(sfx: String): Boolean =
      exists(spark, memberTable(name, known(sfx), version))

    /** The version whose PHYSICAL table backs member `sfx` here.
      * Carried members alias the same physical: equal backing version
      * ⇔ equal bytes, the write-once protocol's content pin. */
    def backingVersion(sfx: String): Int =
      physicalVersion(spark, name, known(sfx), version)

    /** Member `sfx` addressed at its backing PHYSICAL table (identical
      * content — a carried version's view is a pure alias). Two uses
      * where the alias hurts: (1) a session-persisted frame built over
      * a carried VIEW is uncached when retention later drops that view,
      * while the physical table outlives every carry that references
      * it; (2) two versions that carry the same member produce
      * canonically EQUAL plans here, so their session caches are
      * shared — the content is byte-identical by construction. */
    def physicalTable(sfx: String): DataFrame =
      spark.table(qualified(spark, memberTable(name, sfx, backingVersion(sfx))))

    /** The bucket count of member `sfx`'s backing physical table. */
    def numBuckets(sfx: String): Option[Int] =
      spark.sessionState.catalog.getTableMetadata(
        ident(spark, memberTable(name, sfx, backingVersion(sfx))))
        .bucketSpec.map(_.numBuckets)

    /** Carries, from this version, of those `sfxs` it holds. */
    def carry(sfxs: String*): Seq[Carry] =
      sfxs.filter(has).map(Carry(_, version))
  }

  private def memberTable(name: String, sfx: String, version: Int): String =
    s"${name}_${sfx}_v$version"

  /** `table` in the session's current database — never a same-named
    * session temp view, which unqualified names resolve first. */
  private def ident(spark: SparkSession, table: String): TableIdentifier =
    TableIdentifier(table, Some(spark.sessionState.catalog.getCurrentDatabase))

  private def qualified(spark: SparkSession, table: String): String =
    ident(spark, table).quotedString

  private def exists(spark: SparkSession, table: String): Boolean =
    spark.sessionState.catalog.tableExists(ident(spark, table))

  private def isView(spark: SparkSession, table: String): Boolean =
    spark.sessionState.catalog.getTableMetadata(ident(spark, table))
      .tableType == CatalogTableType.VIEW

  private def viewText(spark: SparkSession, table: String): Option[String] =
    try spark.sessionState.catalog.getTableMetadata(ident(spark, table)).viewText
    catch { case _: Exception => None }

  /** Drop a store VIEW by its catalog metadata alone — WITHOUT the
    * `DROP VIEW` command's cache cascade. That cascade uncaches every
    * session-cache entry whose plan `sameResult`s the view body; a
    * store view's body is `SELECT * FROM <member physical table>`, so
    * the cascade destroys caches built on the MEMBER TABLE itself —
    * caches that remain perfectly valid (version-pinned objects are
    * write-once: a dropped pinned view is never re-pointed, and the
    * physical table it aliased is retention-protected while any
    * retained version still carries it). Measured: without this,
    * every commit's retention/convenience-view pass silently evicted
    * the session's operator caches over member tables, re-paying the
    * dedup retune report (~2 s at sf0.1) on every pricing of an
    * unchanged corpus. Views have no data files, so the metadata drop
    * is complete. */
  private def dropViewNoUncache(spark: SparkSession, viewName: String): Unit =
    spark.sessionState.catalog.dropTable(ident(spark, viewName),
      ignoreIfNotExists = true, purge = false)

  /** The version whose PHYSICAL table backs member `suffix` at
    * `version`. A carried member is a view whose body names its
    * backing table outright (`SELECT * FROM <member>_v<P>` — carry
    * publishes views resolved to the physical directly, never
    * view-on-view), so a view resolves by PARSING its own definition:
    * carries may target any older physical, not merely the nearest
    * one below (e.g. a reband donor-carries the bands of the retained
    * version that matches the new plan, skipping over a different
    * physical in between). Holes left by retention step down one
    * version; a view naming no older member table throws — stepping
    * down past it could land on a physical table of other content. */
  private def physicalVersion(spark: SparkSession, name: String,
                              suffix: String, version: Int): Int = {
    def tbl(p: Int) = memberTable(name, suffix, p)
    val targetRx = (java.util.regex.Pattern.quote(s"${name}_${suffix}_v") +
      "(\\d+)").r
    @annotation.tailrec
    def resolve(p: Int): Int =
      if (p < 0) throw new IllegalStateException(s"no physical table backs " +
        s"member '$suffix' of '$name' at or below v$version — store is corrupt")
      else if (!exists(spark, tbl(p))) resolve(p - 1)
      else if (!isView(spark, tbl(p))) p
      else viewText(spark, tbl(p))
        .flatMap(t => targetRx.findFirstMatchIn(t).map(_.group(1).toInt))
        .filter(_ < p) match {
          case Some(q) => resolve(q)
          case None => throw new IllegalStateException(s"carried view " +
            s"${tbl(p)} names no ${name}_${suffix}_v<N> below v$p — store is corrupt")
        }
    resolve(version)
  }

  /** The ptr view's literal body, as [[Layout.commit]] writes it. */
  private val PtrViewText = """(?i)\s*SELECT\s+(\d+)\s+AS\s+version\s*""".r

  /** The committed current version, resolved through the single
    * atomic `<name>_ptr` view (a one-row control-plane read).
    *
    * Resolution reads the view DEFINITION from the catalog — the view
    * body is the literal `SELECT <v> AS version` that [[Layout.commit]]
    * wrote, so the version is in the metadata itself and executing a
    * Spark job to evaluate a constant buys nothing. Every probe,
    * ensure gate and commit resolves the ptr (often several times per
    * query), and each `head()` was a full scheduled job (~10-50 ms of
    * pure action latency) — measured as a visible slice of every
    * index-lifecycle key's wall time. Any ptr view not matching the
    * written shape falls back to executing the view, so a hand-made
    * pointer still resolves. */
  def currentVersion(spark: SparkSession, name: String): Option[Int] =
    if (exists(spark, s"${name}_ptr"))
      Some(viewText(spark, s"${name}_ptr") match {
        case Some(PtrViewText(v)) => v.toInt
        case _ => spark.table(qualified(spark, s"${name}_ptr")).head().getInt(0)
      })
    else None

  /** The local warehouse directory, derived from
    * `spark.sql.warehouse.dir` (file-scheme or plain path only —
    * remote warehouses have no local leftovers to clean). */
  private def localWarehouseDir(spark: SparkSession): Option[java.io.File] = {
    val raw = spark.conf.get("spark.sql.warehouse.dir")
    val uri = new java.net.URI(raw)
    uri.getScheme match {
      case null => Some(new java.io.File(raw))
      case "file" => Some(java.nio.file.Paths.get(uri).toFile)
      case _ => None
    }
  }
}
