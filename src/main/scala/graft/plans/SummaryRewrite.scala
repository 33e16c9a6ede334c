package graft.plans

import java.util.Locale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, expr, hll_union_agg, lit, max, min, sum}
import graft.functions.HllFunctions

/** Summary-table auto-rewrite — the materialized-view affordance of
  * the reference's host warehouse (BigQuery routes qualifying
  * aggregates onto a materialized view transparently; this is that
  * feature as a Catalyst optimizer rule).
  *
  * A summary is a pre-aggregate of a raw parquet table at a declared
  * GRAIN (a grouping-column set), carrying per-grain-row `count(*)`
  * plus declared SUM / MIN / MAX measures. Registering one
  * ([[Summaries.create]]) makes [[SummaryRewrite]] route any qualifying
  * aggregate over the raw table onto the summary instead:
  *
  *   - grouping expressions and filters may reference GRAIN columns
  *     only (arbitrary expressions OVER them are fine — a summary at
  *     (flag, status, day) answers group-bys at (flag), (status, day),
  *     …: re-aggregation over a coarser partition of the same rows);
  *   - `COUNT(literal)` ⇒ `coalesce(SUM(cnt), 0)` (the coalesce keeps
  *     the empty-input global count at 0, where SUM is null);
  *     `SUM(m)` ⇒ `SUM(sum_m)`; `MIN(m)` ⇒ `MIN(min_m)`;
  *     `MAX(m)` ⇒ `MAX(max_m)` — for measures m declared at
  *     registration, matched STRUCTURALLY (attribute / cast /
  *     arithmetic shapes, [[Summaries.measureKey]]), so
  *     `sum(cast(l_quantity as decimal(18,2)))` matches however the
  *     query spells it;
  *   - aggregates whose input references GRAIN columns only route
  *     with no declared measure at all — per grain row the input is a
  *     constant and `count(*)` is its multiplicity, so `MIN`/`MAX`
  *     pass through, `COUNT(e…)` gates the stored count on the
  *     non-null predicate, integral `SUM(e)` becomes `SUM(e × cnt)`
  *     (exact long arithmetic; floating sums stay measure-declared),
  *     exact `percentile(e, p)` becomes `percentile(e, p, cnt)` —
  *     a summary whose grain includes the value column IS the
  *     counts-route histogram, built once for every percentile /
  *     extremum / count over it — and DISTINCT Count/Sum/Min/Max over
  *     grain-only inputs pass through verbatim (the summary carries
  *     exactly the raw table's distinct grain tuples);
  *   - `AVG(m)` over a DECLARED decimal measure routes as the
  *     quotient of its exact legs — `SUM(sum_m) / SUM(__nn_m)` (the
  *     per-grain NON-NULL count stored alongside every sum measure,
  *     because avg skips nulls) — substituted into the query's own
  *     `Average.evaluateExpression`, so division arithmetic, result
  *     type, and eval mode are Spark's by construction and the routed
  *     value is bit-identical. Double/integral AVG stays raw (their
  *     sums re-order under re-aggregation);
  *   - other DISTINCT aggregates, FILTER clauses, and anything
  *     referencing a non-grain, non-measure column disqualify the
  *     aggregate — it runs against the raw table untouched.
  *
  * Rewritten output is bit-compatible: every output attribute keeps
  * its name, exprId, and data type (re-aggregated sums that widen a
  * decimal cast back at the alias boundary), so parent operators never
  * see the substitution. Declare EXACT sum measures (cast to decimal)
  * and the rewrite is value-exact too — decimal addition is
  * associative, so re-aggregating per-grain partials equals the raw
  * aggregate bit-for-bit (q172's oracle hash-checks exactly this).
  *
  * Scale: this is the 100 TB lever the rule exists for — a
  * (flag, status, day)-grain summary of a fact table is smaller than
  * the raw data by the average rows-per-grain factor (thousands at
  * warehouse scale), and every qualifying dashboard aggregate reads
  * the summary's megabytes instead of the fact table's terabytes.
  * Freshness FAILS CLOSED: create/refresh fingerprint the source
  * file set (paths, lengths, mtimes), lookup re-fingerprints, and a
  * mismatch silently suspends routing — queries run raw, correct —
  * until a [[Summaries.refresh]] or re-[[Summaries.create]] records
  * the new state; [[Summaries.drop]] revokes. The check is one
  * metadata listing per routed lookup (the split-planning cost class);
  * `spark.graft.summaryRewrite.staleCheck.enabled=false` restores
  * pure caller's-contract freshness.
  *
  * The APPEND-ONLY stale case — every built file still present and
  * byte-identical, plus new data files — routes anyway, DELTA-
  * COMPENSATED (the BigQuery-MV read): the rewrite substitutes
  * `merge(summary, partial-aggregate(new files only))` for the
  * summary relation, using exactly [[Summaries.refresh]]'s mergeable-
  * measure algebra, so the answer equals the raw scan while reading
  * the summary plus ONLY the appended files. At 100 TB this is the
  * difference between a dashboard that goes 100× slower the moment
  * the nightly load lands and one that reads megabytes of summary
  * plus the morning's delta until the refresh catches up.
  *
  * DELETES and MIXED drift compensate too, through the per-(grain,
  * file) CUBE sidecar single-table creates persist: removal of built
  * files routes invertible aggregates (count/sum/avg legs) onto
  * `merge(summary, negate(cube rows of those files))`, and a window
  * that both appends and deletes — including an in-place rewrite,
  * which lists as old-entry-gone + new-entry-at-the-same-path —
  * additionally folds the extras' pinned partial aggregate. Phantom
  * grains drop (`cnt > 0`), sums nullify where their non-null leg
  * hits zero, and min/max/sketch measures fail closed PER MEASURE
  * (they cannot un-see a deleted value). Joined sources, cube-less
  * specs, and a vanished source still suspend; a content-preserving
  * compaction resumes via [[Summaries.rebless]] with no rebuild.
  * `spark.graft.summaryRewrite.deltaRead.enabled=false` /
  * `…deleteRead.enabled=false` restore strict suspend-on-change.
  * Rewrite activation is registration itself (creating the MV enables
  * routing, as in the host warehouse); `spark.graft.summaryRewrite
  * .enabled=false` force-disables without dropping state. No session
  * confs are mutated by the machinery.
  */
object Summaries {

  /** The summary's registered shape. `relation` is the analyzed
    * read-back of the summary parquet; each rewrite takes a
    * `newInstance()` so repeated rewrites (or two rewrite sites in one
    * query) never share exprIds.
    */
  final case class Spec(
      name: String,
      source: String,
      summaryPath: String,
      grain: Seq[String],
      cntCol: String,
      sums: Map[String, String],
      mins: Map[String, String],
      maxs: Map[String, String],
      relation: LogicalRelation,
      sumSql: Seq[(String, String)] = Nil,
      minSql: Seq[(String, String)] = Nil,
      maxSql: Seq[(String, String)] = Nil,
      gen: Int = 0,
      hlls: Map[String, String] = Map.empty,
      hllSql: Seq[(String, String)] = Nil,
      hllPrecision: Int = HllFunctions.DefaultPrecision,
      kmvs: Map[String, String] = Map.empty,
      kmvSql: Seq[(String, String)] = Nil,
      kmvK: Int = 64,
      kmvDomain: Long = 1000000007L,
      // bottom-k QUANTILE sketch measures (pri-hash + scaled-value
      // pairs): registry key = priKey§valueKey, so a query's
      // quantile_sketch_est(pri, v, k, p) matches by both expressions
      qsks: Map[String, String] = Map.empty,
      qskSql: Seq[(String, String, String)] = Nil,
      qskK: Int = 128,
      // false while a PARTIAL build awaits its backfill: the summary
      // is registered (refreshable, mergeable) but the rewrite must
      // not route onto it — it does not yet reflect the full table
      routable: Boolean = true,
      // companion NON-NULL counts per sum measure (measureKey ->
      // column name): the denominator leg AVG routing needs (avg
      // ignores nulls, so count(*) is not its count)
      nns: Map[String, String] = Map.empty,
      nnSql: Seq[(String, String)] = Nil,
      // staleness guard: the canonical source director(y/ies) this
      // summary was built from, and their file-level fingerprint at
      // build/refresh time — lookup() re-fingerprints and suspends
      // routing on mismatch (fail closed, like the refresh window)
      fpPaths: Seq[String] = Nil,
      sourceFp: String = "",
      // the build-time file listing itself (`path:len:mtime` entries,
      // the strings the fingerprint digests): the delta-read gate
      // compares it against the current listing to prove a stale
      // source is APPEND-ONLY (built set intact, extras new)
      builtFiles: Seq[String] = Nil,
      // joined summaries only: the resolved equi-edges, kept in
      // structured form so the joined-delta substrate can REBUILD
      // Δleaf ⋈ (other tables) without parsing the registry key
      joinEdges: Seq[(String, String, String, String)] = Nil,
      // stored row count measured at registration (parquet metadata
      // read, one tiny job per create/refresh) — the best-match
      // preference orders candidates by it: the cheapest QUALIFYING
      // summary serves the query. -1 = unrecorded (pre-round-15 spec
      // files), which sorts after measured candidates
      rows: Long = -1L,
      // stored on-disk byte size measured at registration (one local
      // listing of the summary directory) — the best-match cost's
      // primary unit, because the STALE-candidate penalty below is
      // measured in bytes too. -1 = unrecorded (older spec files)
      bytes: Long = -1L,
      // the FILE CUBE sidecar: a per-(grain, source-file) partial
      // aggregate of the INVERTIBLE measures (count, sums, non-null
      // legs), built in the same source scan as the summary
      // (single-table creates only). It is what makes retention
      // DELETES compensable: a built file's rows subtract out of the
      // summary as `merge(summary, negate(cube rows of that file))`.
      // Empty = unavailable (joined sources, partial builds, a
      // generic refresh(batch) with no file identity, post-rebless) —
      // deletes then suspend, the strict pre-round-12 posture
      fileCubePath: String = "",
      // measured sidecar size — the delete-compensated read's extra
      // scan, folded into the best-match cost like delta bytes
      cubeBytes: Long = -1L,
      // FILTERED (partial-by-predicate) summary: the declared WHERE
      // clause (SQL over grain columns) the build applied before
      // aggregating. Empty = unfiltered. A query routes only when its
      // own filters IMPLY this predicate (the subsumption gate in the
      // rewrite) — the warehouse filtered-MV contract
      filterSql: String = "",
      // per-grain-column statistics over the SUMMARY's own rows,
      // measured in register()'s read-back job: approximate NDV for
      // every grain column, and 16-bin equi-height endpoints for the
      // numeric ones. The best-match cost uses them to discount a
      // candidate's summary-scan bytes by the QUERY's grain-filter
      // selectivity — the compensation term is never discounted (a
      // delta/cube re-scan reads its files whatever the predicate),
      // which is what lets a selective query prefer a bigger FRESH
      // summary over a smaller one dragging a compensation scan
      grainNdv: Map[String, Long] = Map.empty,
      grainPct: Map[String, Seq[Double]] = Map.empty,
      // generation RETENTION: the directories (summary parquet, cube
      // sidecar) displaced by the fold that produced THIS spec. They
      // stay on disk until the NEXT fold completes — a reader that
      // planned against the previous generation (the spec pins its
      // file listing at plan time) finishes its scan instead of
      // hitting FileNotFound when a refresh lands mid-query. The
      // BigQuery-MV availability contract: a refresh never fails a
      // read. Deleted lazily by the fold AFTER next (one generation
      // of retention), by drop(), or by the gcOrphans() sweep
      retired: Seq[String] = Nil,
      // why the file-cube sidecar is absent when it normally would
      // exist (e.g. the create-time size gate refused it) — surfaced
      // by status()/graft_summaries() and the routing explainer so a
      // suspended delete is diagnosable
      cubeNote: String = "",
      // TRANSIENT (never persisted): set by lookup() on the spec copy
      // it hands the rewrite when the source is stale-but-append-only
      // — the extra data files the compensated substrate must fold
      // in, as FULL `path:len:mtime` listing entries (the pinned-read
      // memos key on them)
      deltaFiles: Seq[String] = Nil,
      // TRANSIENT: the built files DELETED from the source (full
      // listing entries) — set by lookup() on the pruned spec copy it
      // hands the rewrite when the drift is delete-only and the file
      // cube covers it
      deletedFiles: Seq[String] = Nil,
      // TRANSIENT: the measured bytes the compensated read must scan
      // BEYOND the summary itself (delta files, plus the built
      // partners each telescoped join term re-reads) — folded into
      // the best-match cost so a stale-but-small candidate whose
      // compensation scan dominates loses to a fresh summary with
      // slightly more rows, and wins again after refreshDelta
      compBytes: Long = 0L)

  private val reg =
    new java.util.concurrent.ConcurrentHashMap[String, Spec]()

  private[plans] def isEmpty: Boolean = reg.isEmpty

  // ---------------------------------------------------------------
  // Spec persistence: the summary DATA is parquet, so it survives a
  // restart — the routing SPEC must too, or the MV silently degrades
  // to an orphaned directory (queries run raw, correct, and nobody
  // knows why the dashboard got 100× slower). Each register() writes
  // the spec as JSON under `graft_summaries/_specs/<name>.json`
  // (atomic temp+rename); drop()/clear() delete. A fresh JVM lazily
  // reloads on the first registry access ([[ensureLoaded]]) and
  // re-reads each summary parquet for its relation; the persisted
  // build-time fingerprint comes along, so a source that changed
  // while the engine was down STILL suspends routing (the fail-closed
  // staleness gate needs no special restart handling). This is the
  // catalog-object half of the warehouse MV contract — BigQuery MVs
  // outlive sessions.
  // ---------------------------------------------------------------

  private def specsDir = new java.io.File(
    "spark-warehouse/graft_summaries/_specs")

  private def specFile(name: String) =
    new java.io.File(specsDir, name + ".json")

  private val loadAttempted =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** 2: `hll_distinct` measures store Spark's DataSketches sketches. */
  private val SpecFormat = 2

  private def specToJson(s: Spec): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def pairs(ps: Seq[(String, String)]) = JArray(ps.map { case (a, b) =>
      JArray(List(JString(a), JString(b))) }.toList)
    def smap(m: Map[String, String]) =
      JObject(m.toList.sorted.map { case (k, v) => k -> JString(v) })
    def strs(ss: Seq[String]) = JArray(ss.map(JString(_)).toList)
    val j = JObject(List(
      "format" -> JInt(SpecFormat),
      "name" -> JString(s.name),
      "source" -> JString(s.source),
      "summaryPath" -> JString(s.summaryPath),
      "grain" -> strs(s.grain),
      "cntCol" -> JString(s.cntCol),
      "sums" -> smap(s.sums), "mins" -> smap(s.mins),
      "maxs" -> smap(s.maxs), "nns" -> smap(s.nns),
      "hlls" -> smap(s.hlls), "kmvs" -> smap(s.kmvs),
      "sumSql" -> pairs(s.sumSql), "minSql" -> pairs(s.minSql),
      "maxSql" -> pairs(s.maxSql), "nnSql" -> pairs(s.nnSql),
      "hllSql" -> pairs(s.hllSql), "kmvSql" -> pairs(s.kmvSql),
      "gen" -> JInt(s.gen),
      "hllPrecision" -> JInt(s.hllPrecision),
      "kmvK" -> JInt(s.kmvK),
      "kmvDomain" -> JLong(s.kmvDomain),
      "routable" -> JBool(s.routable),
      "fpPaths" -> strs(s.fpPaths),
      "sourceFp" -> JString(s.sourceFp),
      "builtFiles" -> strs(s.builtFiles),
      "joinEdges" -> JArray(s.joinEdges.map { case (pa, ca, pb, cb) =>
        JArray(List(JString(pa), JString(ca), JString(pb), JString(cb)))
      }.toList),
      "filterSql" -> JString(s.filterSql),
      "rows" -> JLong(s.rows),
      "bytes" -> JLong(s.bytes),
      "fileCubePath" -> JString(s.fileCubePath),
      "cubeBytes" -> JLong(s.cubeBytes),
      "qsks" -> smap(s.qsks),
      "qskSql" -> JArray(s.qskSql.map { case (n, ps, vs) =>
        JArray(List(JString(n), JString(ps), JString(vs))) }.toList),
      "qskK" -> JInt(s.qskK),
      "retired" -> strs(s.retired),
      "cubeNote" -> JString(s.cubeNote),
      "grainNdv" -> JObject(s.grainNdv.toList.sorted.map {
        case (k, v) => k -> JLong(v) }),
      "grainPct" -> JObject(s.grainPct.toList.sortBy(_._1).map {
        case (k, vs) => k -> JArray(vs.map(JDouble(_)).toList) })))
    JsonMethods.compact(JsonMethods.render(j))
  }

  private def specFromJson(txt: String): Spec = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(txt).asInstanceOf[JObject].obj.toMap
    def str(k: String) = j(k).asInstanceOf[JString].s
    def strs(k: String) = j(k).asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JString].s)
    def smap(k: String) = j(k).asInstanceOf[JObject].obj
      .map { case (n, v) => n -> v.asInstanceOf[JString].s }.toMap
    def pairs(k: String) = j(k).asInstanceOf[JArray].arr.map { e =>
      val l = e.asInstanceOf[JArray].arr
      (l(0).asInstanceOf[JString].s, l(1).asInstanceOf[JString].s)
    }
    def num(k: String) = j(k) match {
      case JInt(v) => v.toLong
      case JLong(v) => v
      case other => other.asInstanceOf[JDecimal].num.toLong
    }
    Spec(str("name"), str("source"), str("summaryPath"), strs("grain"),
      str("cntCol"), smap("sums"), smap("mins"), smap("maxs"),
      relation = null,
      sumSql = pairs("sumSql"), minSql = pairs("minSql"),
      maxSql = pairs("maxSql"), gen = num("gen").toInt,
      hlls = smap("hlls"), hllSql = pairs("hllSql"),
      hllPrecision = num("hllPrecision").toInt,
      kmvs = smap("kmvs"), kmvSql = pairs("kmvSql"),
      kmvK = num("kmvK").toInt, kmvDomain = num("kmvDomain"),
      // a spec from before SpecFormat stores graft's own HLL register
      // arrays, which Spark's sketch functions cannot read: its
      // hll_distinct measures would answer wrong, so it never routes
      routable = j("routable").asInstanceOf[JBool].value &&
        ((j.contains("format") && num("format") == SpecFormat) ||
          smap("hlls").isEmpty),
      nns = smap("nns"), nnSql = pairs("nnSql"),
      fpPaths = strs("fpPaths"), sourceFp = str("sourceFp"),
      // absent in pre-delta-read spec files: those summaries reload
      // with no built listing, so the delta gate stays closed (strict
      // suspend-on-stale) until the next create/refresh records one
      builtFiles = if (j.contains("builtFiles")) strs("builtFiles")
        else Nil,
      joinEdges = if (!j.contains("joinEdges")) Nil
        else j("joinEdges").asInstanceOf[JArray].arr.map { e =>
          val l = e.asInstanceOf[JArray].arr
            .map(_.asInstanceOf[JString].s)
          (l(0), l(1), l(2), l(3))
        },
      filterSql = if (j.contains("filterSql")) str("filterSql") else "",
      rows = if (j.contains("rows")) num("rows") else -1L,
      bytes = if (j.contains("bytes")) num("bytes") else -1L,
      fileCubePath =
        if (j.contains("fileCubePath")) str("fileCubePath") else "",
      cubeBytes = if (j.contains("cubeBytes")) num("cubeBytes") else -1L,
      qsks = if (j.contains("qsks")) smap("qsks") else Map.empty,
      qskSql = if (!j.contains("qskSql")) Nil
        else j("qskSql").asInstanceOf[JArray].arr.map { e =>
          val l = e.asInstanceOf[JArray].arr
            .map(_.asInstanceOf[JString].s)
          (l(0), l(1), l(2))
        },
      qskK = if (j.contains("qskK")) num("qskK").toInt else 128,
      retired = if (j.contains("retired")) strs("retired") else Nil,
      cubeNote = if (j.contains("cubeNote")) str("cubeNote") else "",
      grainNdv = if (!j.contains("grainNdv")) Map.empty
        else j("grainNdv").asInstanceOf[JObject].obj.map {
          case (k, JInt(v)) => k -> v.toLong
          case (k, JLong(v)) => k -> v
          case (k, other) =>
            k -> other.asInstanceOf[JDecimal].num.toLong
        }.toMap,
      grainPct = if (!j.contains("grainPct")) Map.empty
        else j("grainPct").asInstanceOf[JObject].obj.map {
          case (k, arr) => k -> arr.asInstanceOf[JArray].arr.map {
            case JDouble(d) => d
            case JInt(v) => v.toDouble
            case JLong(v) => v.toDouble
            case other => other.asInstanceOf[JDecimal].num.toDouble
          }
        }.toMap)
  }

  /** Two engines (or a test suite and a bench) folding the SAME
    * summary against one shared warehouse used to race: both write
    * `__g{k+1}`, both persist, last-writer-wins with the loser's
    * cleanup deleting the winner's files. [[persistSpec]] now refuses
    * that loudly instead of corrupting, and [[newGenDir]] gives each
    * writer its own directory so neither the overwrite nor the
    * loser's cleanup can touch the winner's files.
    */
  final class ConcurrentSpecUpdate(msg: String)
    extends IllegalStateException(msg)

  /** A fresh generation directory `<name>__g<gen><kind>_w<nonce>`.
    * The writer nonce makes the path PER-WRITER unique: two engines
    * folding the same generation race only on the persist CAS — they
    * can never write into (mode-overwrite clobber) or clean up each
    * other's directory. The loser's failure handler deletes its OWN
    * files; before the nonce it deleted the winner's just-registered
    * generation, the exact corruption the CAS exists to prevent.
    * Readers always take the path from the spec, never derive it.
    */
  private def newGenDir(name: String, gen: Int,
      kind: String = ""): String = {
    val nonce = f"${java.util.concurrent.ThreadLocalRandom.current()
      .nextInt() & 0xffffff}%06x"
    new java.io.File(
      s"spark-warehouse/graft_summaries/${name}__g$gen${kind}_w$nonce")
      .getAbsolutePath
  }

  // a crashed holder's lease is stolen after this long — generous
  // against any real persist (microseconds of JSON), tight against a
  // maintenance window
  private val SpecLeaseMs = 60000L

  /** Persist the spec under a per-name file LEASE with a
    * compare-and-set on the generation: `expectGen` is the on-disk
    * generation the caller's fold READ; if another engine already
    * advanced the persisted spec past it, this writer lost the race
    * and throws [[ConcurrentSpecUpdate]] (its written generation dir
    * is cleaned up by the caller) rather than overwriting the
    * winner. `createNewFile` is atomic on local/POSIX-semantics
    * filesystems, which is what the shared `spark-warehouse` is.
    */
  private def persistSpec(s: Spec,
      expectGen: Option[Int] = None): Unit = {
    specsDir.mkdirs()
    val lock = new java.io.File(specsDir, s.name + ".lock")
    // the lease is OWNED: the holder's token goes into the lock file,
    // release deletes only a lock that still carries it (a holder
    // that outlived its lease must not release the lock a stealer
    // now legitimately holds), and a steal first moves the expired
    // lock aside — Files.move of one source succeeds for exactly ONE
    // of N stealers, so two engines observing the same expired lease
    // cannot both proceed into the critical section
    val token = java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean = lock.createNewFile() && {
      // a failed token write must not leave an OWNERLESS lock that
      // blocks every writer until the lease expires
      try {
        java.nio.file.Files.write(lock.toPath, token.getBytes("UTF-8"))
        true
      } catch { case scala.util.control.NonFatal(_) =>
        lock.delete(); false
      }
    }
    def steal(): Boolean = {
      val age = System.currentTimeMillis() - lock.lastModified()
      age > SpecLeaseMs && {
        val aside = new java.io.File(specsDir,
          s"${s.name}.lock.stale.$token")
        (try {
          java.nio.file.Files.move(lock.toPath, aside.toPath)
          // the age check and the move are not atomic: the expired
          // lock may have been released and a FRESH one created in
          // between — verify the file we actually moved, and put a
          // fresh one back (a failed restore deletes the aside copy;
          // the displaced holder's token-checked release stays safe
          // and the generation CAS backstops any residual overlap)
          val fresh = System.currentTimeMillis() -
            aside.lastModified() <= SpecLeaseMs
          if (fresh) {
            try java.nio.file.Files.move(aside.toPath, lock.toPath)
            catch { case _: java.io.IOException => aside.delete() }
            false
          } else { aside.delete(); true }
        } catch { case _: java.io.IOException => false }) && tryCreate()
      }
    }
    val acquired = tryCreate() || steal() || tryCreate()
    if (!acquired) throw new ConcurrentSpecUpdate(
      s"summary '${s.name}': another engine holds the spec lease " +
        s"(${lock.getAbsolutePath}) — retry after it completes")
    try {
      expectGen.foreach { g =>
        val onDisk =
          try Option(specFile(s.name)).filter(_.exists()).map(f =>
            specFromJson(new String(
              java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
          catch { case scala.util.control.NonFatal(_) => None }
        onDisk.map(_.gen).filter(_ != g).foreach { dg =>
          throw new ConcurrentSpecUpdate(
            s"summary '${s.name}': the persisted spec is at " +
              s"generation $dg but this fold read generation $g — " +
              "another engine refreshed it concurrently; reload " +
              "(Summaries.unload) and retry")
        }
      }
      val tmp = new java.io.File(specsDir, s.name + ".json.tmp")
      java.nio.file.Files.write(tmp.toPath,
        specToJson(s).getBytes("UTF-8"))
      try java.nio.file.Files.move(tmp.toPath, specFile(s.name).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        java.nio.file.Files.move(tmp.toPath, specFile(s.name).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally {
      // release only OUR lease (token check) — see the acquire note
      val mine =
        try new String(java.nio.file.Files.readAllBytes(lock.toPath),
          "UTF-8") == token
        catch { case scala.util.control.NonFatal(_) => false }
      if (mine) lock.delete()
    }
  }

  /** Reload persisted specs into the in-memory registry, once per
    * JVM (re-armed by [[unload]]). Registered entries win over disk;
    * a spec whose summary parquet vanished is skipped (queries fall
    * back to raw — the fail-closed default); an unparsable file is
    * skipped the same way. Needs an active session to re-read the
    * summary relation, so a no-session call retries later.
    */
  private def ensureLoaded(): Unit =
    if (!loadAttempted.get()) {
      org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
        if (loadAttempted.compareAndSet(false, true)) {
          val files = Option(specsDir.listFiles())
            .getOrElse(Array.empty[java.io.File])
            .filter(_.getName.endsWith(".json"))
          files.foreach { f =>
            try {
              val spec = specFromJson(new String(
                java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
              if (!reg.containsKey(regKey(spec.source, spec.name)))
                s.read.parquet(spec.summaryPath)
                  .queryExecution.analyzed match {
                  case lr: LogicalRelation =>
                    reg.putIfAbsent(regKey(spec.source, spec.name),
                      spec.copy(relation = lr))
                  case _ =>
                }
            } catch {
              case scala.util.control.NonFatal(_) => // skip: fail closed
            }
          }
        }
      }
    }

  private[plans] def ensureLoadedForRule(): Unit = ensureLoaded()

  /** Simulate a restart (tests): forget all in-memory state WITHOUT
    * touching the persisted spec files, and re-arm the lazy reload.
    */
  private[graft] def unload(): Unit = {
    reg.clear()
    fpMemo.clear()
    deltaRelMemo.clear()
    cubeFilesMemo.clear()
    pinnedRelMemo.synchronized(pinnedRelMemo.clear())
    loadAttempted.set(false)
  }

  /** The source file listing: one `path:len:mtime` entry per data
    * file (temp/metadata `_`/`.` names excluded), per-path sorted. One
    * metadata listing per source — the same cost class as split
    * planning; the raw material of both the freshness fingerprint and
    * the append-only delta gate.
    */
  private[plans] def listEntries(paths: Seq[String],
      hadoopConf: org.apache.hadoop.conf.Configuration): Seq[String] =
    paths.sorted.flatMap { ps =>
      val p = new org.apache.hadoop.fs.Path(ps)
      try {
        val fs = p.getFileSystem(hadoopConf)
        val it = fs.listFiles(p, true)
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          val name = st.getPath.getName
          if (!name.startsWith("_") && !name.startsWith("."))
            entries +=
              s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
        }
        entries.sorted
      } catch {
        // a vanished source can never match its build-time state
        case _: java.io.FileNotFoundException => Seq(s"absent:$ps")
      }
    }

  /** MD5 over the listing entries — the freshness fingerprint. */
  private[plans] def fpOf(entries: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private[plans] def fingerprint(paths: Seq[String],
      hadoopConf: org.apache.hadoop.conf.Configuration): String =
    fpOf(listEntries(paths, hadoopConf))

  /** The file path inside a listing entry (`<path>:<len>:<mtime>` —
    * the path itself may contain `:`, so split from the right).
    */
  private def entryPath(e: String): String = {
    val i2 = e.lastIndexOf(':')
    e.substring(0, e.lastIndexOf(':', i2 - 1))
  }

  /** The byte length inside a listing entry. */
  private def entryLen(e: String): Long = {
    val i2 = e.lastIndexOf(':')
    val i1 = e.lastIndexOf(':', i2 - 1)
    try e.substring(i1 + 1, i2).toLong
    catch { case _: NumberFormatException => 0L } // absent:<path>
  }

  val StaleCheckKey = "spark.graft.summaryRewrite.staleCheck.enabled"
  val StaleTtlKey = "spark.graft.summaryRewrite.staleCheck.ttlMs"

  // memo for the freshness listing: paths-key → (nanoTime, fp). The
  // default TTL (5 s) collapses the optimizer's fixed-point re-visits
  // of one query (2-3 rule firings) AND a dashboard burst to one
  // metadata listing per source per window — at 100 TB a routed read
  // must not pay a 100k-file enumeration each time. The trade is
  // BOUNDED staleness for out-of-band writers only: create/refresh/
  // drop overwrite or remove the memo entry themselves (see
  // [[touchFpMemo]]), so every engine-driven mutation is visible
  // immediately, and an external overwrite routes stale for at most
  // the TTL before the fail-closed suspension kicks in. TTL 0 restores
  // the strictest reading (every lookup re-lists).
  private val fpMemo = new java.util.concurrent
    .ConcurrentHashMap[String, (Long, String, Seq[String])]()

  val DefaultStaleTtlMs = 5000L

  private def memoKey(paths: Seq[String]): String =
    paths.sorted.mkString("|")

  /** Record `entries`/`fp` as the just-observed listing of `paths` —
    * called by create/refresh at the moment they record the same
    * fingerprint into the spec, so a TTL-cached PRE-mutation listing
    * can never suspend a summary the engine itself just brought up to
    * date (and the memo never outlives the registration — drop
    * removes it).
    */
  private def touchFpMemo(paths: Seq[String], fp: String,
      entries: Seq[String]): Unit =
    fpMemo.put(memoKey(paths), (System.nanoTime(), fp, entries))

  /** The current listing + fingerprint of `paths`, through the TTL
    * memo: one metadata enumeration per source per TTL window, shared
    * by the freshness gate and the delta gate (`ttlMs = 0` re-lists
    * on every call — the strictest reading).
    */
  private def currentListing(paths: Seq[String],
      s: org.apache.spark.sql.SparkSession): (String, Seq[String]) = {
    val ttlNs = s.conf.get(StaleTtlKey, DefaultStaleTtlMs.toString)
      .toLong * 1000000L
    val key = memoKey(paths)
    val now = System.nanoTime()
    Option(fpMemo.get(key))
      .filter { case (t, _, _) => ttlNs > 0 && now - t < ttlNs }
      .map { case (_, fp, es) => (fp, es) }
      .getOrElse {
        val es = listEntries(paths, s.sparkContext.hadoopConfiguration)
        val fp = fpOf(es)
        fpMemo.put(key, (now, fp, es))
        (fp, es)
      }
  }

  /** The fail-closed freshness gate: a summary whose source files no
    * longer match the build-time fingerprint silently stops routing
    * (queries run raw — correct, just unrouted), exactly like the
    * refresh-window suspension; a completing [[refresh]] or a
    * re-[[create]] records the new fingerprint and routing resumes.
    * `spark.graft.summaryRewrite.staleCheck.enabled=false` restores
    * the caller's-contract behavior (skip the listing).
    */
  private def fresh(spec: Spec): Boolean =
    spec.sourceFp.isEmpty || spec.fpPaths.isEmpty || {
      val sess = org.apache.spark.sql.SparkSession.getActiveSession
      sess.forall { s =>
        !s.conf.get(StaleCheckKey, "true").toBoolean ||
          currentListing(spec.fpPaths, s)._1 == spec.sourceFp
      }
    }

  val DeltaReadKey = "spark.graft.summaryRewrite.deltaRead.enabled"

  /** The append-only delta gate: a STALE source whose build-time file
    * set is still present byte-for-byte (same path, length, mtime)
    * with only NEW data files on top yields those extra files — the
    * compensated substrate folds exactly them in. Any other drift
    * (a built file rewritten, shrunk, touched, or deleted) returns
    * None: nothing can compensate an in-place mutation, so the strict
    * suspension stands. For a JOINED source every extra file must land
    * under SOME registered leaf; appends on several leaves in one
    * window are fine — [[joinedDelta]] folds the cross-delta terms
    * (Δa⋈b₀ + (a₀+Δa)⋈Δb telescopes to the exact delta).
    */
  private def deltaFor(spec: Spec,
      s: org.apache.spark.sql.SparkSession): Option[Seq[String]] =
    if (spec.builtFiles.isEmpty ||
        !s.conf.get(DeltaReadKey, "true").toBoolean) None
    else deltaFromEntries(spec, currentListing(spec.fpPaths, s)._2)

  /** The pure half of the delta gate: given a CURRENT listing, the
    * extra files iff the drift is append-only (and single-leaf
    * for a joined source). Returns FULL `path:len:mtime` entries —
    * downstream pinned-read memos key on them, so a delta file
    * rewritten in place between lookups mints a new cache key
    * instead of serving a relation with stale baked-in lengths. */
  private def deltaFromEntries(spec: Spec,
      entries: Seq[String]): Option[Seq[String]] = {
    val cur = entries.toSet
    val built = spec.builtFiles.toSet
    val extras = entries.filterNot(built)
    if (built.nonEmpty && built.subsetOf(cur) && extras.nonEmpty &&
        !extras.exists(_.startsWith("absent:")) &&
        (spec.fpPaths.length == 1 ||
          extras.forall(e => ownerPath(spec, entryPath(e)).isDefined)))
      Some(extras)
    else None
  }

  val DeleteReadKey = "spark.graft.summaryRewrite.deleteRead.enabled"

  /** The delete-only gate: a STALE source whose drift is PURE REMOVAL
    * of built files (no extras, at least one survivor), when the
    * file-cube sidecar exists to subtract them. Single-table only —
    * file identity across a join is not attributable. Returns the
    * missing files' full listing entries.
    */
  private def deletedFor(spec: Spec,
      s: org.apache.spark.sql.SparkSession): Option[Seq[String]] =
    if (spec.fileCubePath.isEmpty || spec.fpPaths.length != 1 ||
        spec.builtFiles.isEmpty ||
        !s.conf.get(DeleteReadKey, "true").toBoolean) None
    else deletedFromEntries(spec, currentListing(spec.fpPaths, s)._2)

  private def deletedFromEntries(spec: Spec,
      entries: Seq[String]): Option[Seq[String]] = {
    val cur = entries.toSet
    val built = spec.builtFiles.toSet
    val missing = spec.builtFiles.filterNot(cur)
    val extras = entries.filterNot(built)
    if (built.nonEmpty && missing.nonEmpty && extras.isEmpty &&
        missing.length < spec.builtFiles.length &&
        !entries.exists(_.startsWith("absent:")))
      Some(missing)
    else None
  }

  /** The MIXED gate: deletes AND appends in one window — including an
    * in-place REWRITE, which the listing presents as the old entry
    * missing plus a new entry at the same path. With the cube the
    * algebra is still exact for invertible measures:
    * `summary − cube(missing) + partial-agg(extras)` — the cube
    * subtracts exactly what the built files contributed, the pinned
    * delta read adds exactly what the current extras hold. Full
    * churn (every built file replaced) is fine; a vanished source is
    * not. Returns (missing entries, extra entries).
    */
  private def mixedFromEntries(spec: Spec,
      entries: Seq[String]): Option[(Seq[String], Seq[String])] = {
    val cur = entries.toSet
    val built = spec.builtFiles.toSet
    val missing = spec.builtFiles.filterNot(cur)
    val extras = entries.filterNot(built)
    if (built.nonEmpty && missing.nonEmpty && extras.nonEmpty &&
        !entries.exists(_.startsWith("absent:")))
      Some((missing, extras))
    else None
  }

  private def mixedFor(spec: Spec,
      s: org.apache.spark.sql.SparkSession)
      : Option[(Seq[String], Seq[String])] =
    if (spec.fileCubePath.isEmpty || spec.fpPaths.length != 1 ||
        spec.builtFiles.isEmpty ||
        !s.conf.get(DeleteReadKey, "true").toBoolean ||
        !s.conf.get(DeltaReadKey, "true").toBoolean) None
    else mixedFromEntries(spec, currentListing(spec.fpPaths, s)._2)

  /** The spec copy handed to the rewrite for a delete-compensated
    * read: only the INVERTIBLE measures survive — count, sums, and
    * their non-null legs subtract exactly; min/max/percentile-
    * sketch/HLL/KMV cannot un-see a deleted value, so queries
    * touching them fail closed to raw (per-measure, not per-summary).
    */
  private def pruneForDelete(spec: Spec): Spec =
    spec.copy(mins = Map.empty, minSql = Nil,
      maxs = Map.empty, maxSql = Nil,
      hlls = Map.empty, hllSql = Nil,
      kmvs = Map.empty, kmvSql = Nil,
      qsks = Map.empty, qskSql = Nil)

  /** Which registered leaf path a data file belongs under (canonical
    * prefix match). */
  private def ownerPath(spec: Spec, file: String): Option[String] = {
    val cf = canon(file)
    spec.fpPaths.find(p => cf == p || cf.startsWith(p + "/"))
  }

  /** Measured bytes a compensated read scans BEYOND the summary: the
    * delta files themselves for a single table; for a joined source,
    * every telescoped term's full read set (term i re-reads the
    * OTHER leaves' built/new files alongside Δ(a_i) — at 100 TB a
    * dim-side append forces a fact re-scan, and the cost model must
    * say so). Pure arithmetic over the listing entries already in
    * hand — no I/O.
    */
  private def compensationBytes(spec: Spec, extras: Seq[String]): Long =
    if (spec.fpPaths.length == 1) extras.map(entryLen).sum
    else {
      def owner(e: String) = ownerPath(spec, entryPath(e)).getOrElse("")
      val deltaBy = extras.groupBy(owner)
      val builtBy = spec.builtFiles.groupBy(owner)
      val appended = spec.fpPaths.filter(deltaBy.contains)
      appended.zipWithIndex.map { case (ai, i) =>
        spec.fpPaths.map { p =>
          if (p == ai) deltaBy(p).map(entryLen).sum
          else {
            val built = builtBy.getOrElse(p, Nil).map(entryLen).sum
            val idx = appended.indexOf(p)
            val extra = if (idx >= 0 && idx < i)
              deltaBy.getOrElse(p, Nil).map(entryLen).sum
            else 0L
            built + extra
          }
        }.sum
      }.sum
    }

  /** A routable view of the spec for the rewrite: the spec itself
    * when fresh; a delta-bearing copy when stale but append-only
    * (the rewrite swaps in the compensated substrate, and the copy
    * carries the measured compensation bytes for the best-match
    * cost); None otherwise (fail closed — the query runs raw).
    */
  private def routedView(spec: Spec): Option[Spec] =
    if (fresh(spec)) Some(spec)
    else org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap { s =>
        deltaFor(spec, s)
          .map(fs => spec.copy(deltaFiles = fs,
            compBytes = compensationBytes(spec, fs)))
          .orElse(deletedFor(spec, s).map(ms =>
            pruneForDelete(spec).copy(deletedFiles = ms,
              // the compensation scan is the cube, not the deleted
              // files (they are gone) — cost it at its measured size
              compBytes = math.max(spec.cubeBytes, 0L))))
          .orElse(mixedFor(spec, s).map { case (ms, ex) =>
            pruneForDelete(spec).copy(deletedFiles = ms,
              deltaFiles = ex,
              compBytes = ex.map(entryLen).sum +
                math.max(spec.cubeBytes, 0L))
          })
      }

  // ----- multi-summary registry --------------------------------
  // a source may carry SEVERAL summaries (the warehouse contract:
  // e.g. a small FILTERED slice beside the full-table one, or a
  // coarse dashboard grain beside a fine histogram grain). The
  // registry keys on (source, name); lookups return every candidate
  // in PREFERENCE order and the rewrite takes the first whose gates
  // pass. Preference: filtered first (a declared slice is the
  // smaller build — when it qualifies, it wins), then coarser grain
  // (fewer grain columns aggregate harder → fewer rows to scan),
  // then name for determinism.

  private def regKey(source: String, name: String): String =
    source + "\u0001" + name

  // preference = MEASURED cost: stored byte size ascending PLUS the
  // measured compensation-scan bytes for a stale candidate (so a
  // fresh summary beats a stale-but-smaller one the moment the delta
  // re-scan dominates, and the stale one wins again after its
  // refreshDelta folds the delta away); row count for specs recorded
  // before bytes were; then the static fallbacks for unrecorded
  // specs (filtered slice first, coarser grain), then name for
  // determinism. Candidates that cannot serve a query are never
  // consulted — the gates run per candidate — so this orders cost
  // among CORRECT choices only.
  private def specOrder(s: Spec): (Int, Long, Boolean, Int, String) =
    (if (s.bytes >= 0) 0 else if (s.rows >= 0) 1 else 2,
      if (s.bytes >= 0) s.bytes + s.compBytes
      else if (s.rows >= 0) s.rows else 0L,
      s.filterSql.isEmpty, s.grain.length, s.name)

  /** Estimated fraction of the candidate's summary rows the query's
    * grain filters keep, from the register()-measured per-grain-column
    * statistics: equality/IN discount by 1/NDV per matched literal,
    * ranges by the equi-height histogram's bin fractions (linear
    * inside the straddling bin). Unknown shapes and missing stats
    * contribute 1.0 — the estimate only ever DISCOUNTS on evidence,
    * never penalizes, so candidates without stats rank exactly as
    * before. Clamped at 1e-4: a selectivity estimate must not claim a
    * scan is free.
    */
  private[plans] def estimateSelectivity(spec: Spec,
      filters: Seq[Expression]): Double = {
    def name(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case c: Cast => name(c.child)
      case _ => None
    }
    def dbl(a: Any): Option[Double] = a match {
      case null => None
      case n: Number => Some(n.doubleValue())
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case _ => None
    }
    def eqSel(c: String, k: Int): Double =
      spec.grainNdv.get(c).filter(_ > 0)
        .map(n => math.min(1.0, math.max(1, k).toDouble / n))
        .getOrElse(1.0)
    // fraction of summary rows with col < v, by equi-height bins
    def fracBelow(eps: Seq[Double], v: Double): Double = {
      val b = eps.length - 1
      var f = 0.0
      var i = 0
      while (i < b) {
        val (l, h) = (eps(i), eps(i + 1))
        f += (if (h <= v) 1.0
              else if (l >= v) 0.0
              else if (h > l) (v - l) / (h - l)
              else 0.5) / b
        i += 1
      }
      math.max(0.0, math.min(1.0, f))
    }
    def cmpSel(l: Expression, r: Expression, below: Boolean): Double =
      ((l, r) match {
        case (c, Literal(v, _)) =>
          name(c).zip(dbl(v)).map { case (n, d) => (n, d, below) }
        case (Literal(v, _), c) => // v < col ≡ col > v
          name(c).zip(dbl(v)).map { case (n, d) => (n, d, !below) }
        case _ => None
      }).flatMap { case (c, v, blw) =>
        spec.grainPct.get(c).filter(_.length >= 2).map { eps =>
          val f = fracBelow(eps, v)
          if (blw) f else 1.0 - f
        }
      }.getOrElse(1.0)
    def sel(e: Expression): Double = e match {
      case And(a, b) => sel(a) * sel(b)
      case Or(a, b) => math.min(1.0, sel(a) + sel(b))
      case EqualTo(l, _: Literal) => name(l).map(eqSel(_, 1)).getOrElse(1.0)
      case EqualTo(_: Literal, r) => name(r).map(eqSel(_, 1)).getOrElse(1.0)
      case EqualNullSafe(l, _: Literal) =>
        name(l).map(eqSel(_, 1)).getOrElse(1.0)
      case EqualNullSafe(_: Literal, r) =>
        name(r).map(eqSel(_, 1)).getOrElse(1.0)
      case In(l, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        name(l).map(eqSel(_, vs.length)).getOrElse(1.0)
      case ins: InSet =>
        name(ins.child)
          .map(eqSel(_, ins.hset.count(_ != null))).getOrElse(1.0)
      case LessThan(l, r) => cmpSel(l, r, below = true)
      case LessThanOrEqual(l, r) => cmpSel(l, r, below = true)
      case GreaterThan(l, r) => cmpSel(l, r, below = false)
      case GreaterThanOrEqual(l, r) => cmpSel(l, r, below = false)
      case _ => 1.0
    }
    math.max(1e-4, filters.foldLeft(1.0)((acc, f) => acc * sel(f)))
  }

  /** Query-aware candidate ranking: `sel × bytes + compBytes`. The
    * compensation term is deliberately NOT discounted — a delta/cube
    * re-scan reads its raw files whatever the predicate (parquet I/O
    * is row-group-granular over unsorted data), while the
    * summary-scan term shrinks with the query's selectivity. That
    * asymmetry is the point: a selective dashboard query prefers a
    * larger FRESH summary over a smaller stale one dragging a
    * compensation scan, and an unfiltered rollup still takes the
    * small one. The sort is stable, so equal costs (no filters, no
    * stats) keep the static preference order — nothing changes for
    * single-candidate sources.
    */
  private[plans] def rankBySelectivity(specs: Seq[Spec],
      filters: Seq[Expression]): Seq[Spec] =
    if (specs.lengthCompare(2) < 0 || filters.isEmpty) specs
    else {
      def cost(s: Spec): Double =
        if (s.bytes >= 0)
          estimateSelectivity(s, filters) * s.bytes + s.compBytes
        else Double.MaxValue
      val static = specs.head
      val best = specs.minBy(cost)
      // hysteresis: the estimates are approximate (approx NDV, 16-bin
      // histograms, parquet byte noise), and two candidates holding
      // the same logical rows land within a factor of each other by
      // construction — only a DECISIVE (4×) advantage overrides the
      // static preference (filtered slice first, then smallest).
      // Near-ties keep the established order, so every existing
      // best-match contract is unchanged without a filter that
      // actually separates the candidates.
      if ((best ne static) && cost(best) * 4.0 < cost(static))
        best +: specs.filterNot(_ eq best)
      else specs
    }

  private def candidatesFor(source: String): Seq[Spec] = {
    import scala.jdk.CollectionConverters._
    reg.values().asScala.toSeq.filter(_.source == source)
      .sortBy(specOrder)
  }

  private[plans] def lookupAll(path: String): Seq[Spec] = {
    ensureLoaded()
    // order AFTER the freshness/delta gates run: a stale candidate's
    // preference must reflect its measured compensation cost, which
    // only the routed view carries
    candidatesFor(path).filter(_.routable)
      .flatMap(s => routedView(s).toSeq)
      .sortBy(specOrder)
  }

  // ----- diagnosis hooks (RoutingExplain) — registration/freshness
  // state WITHOUT the fail-closed filtering, so the explainer can say
  // WHY a lookup came back empty instead of just that it did -----

  private[plans] def rawLookupAll(key: String): Seq[Spec] = {
    ensureLoaded()
    candidatesFor(key)
  }

  private[plans] def registeredKeys: Seq[String] = {
    import scala.jdk.CollectionConverters._
    ensureLoaded()
    reg.values().asScala.toSeq.map(_.source).distinct
  }

  private[plans] def isFresh(spec: Spec): Boolean = fresh(spec)

  /** The spec AS THE ROUTER COSTS IT — fresh unchanged, stale with
    * its measured compensation bytes (and per-measure pruning)
    * attached; None when nothing can serve it. Diagnosis hook for
    * RoutingExplain's candidate-cost lines.
    */
  private[plans] def routedViewFor(spec: Spec): Option[Spec] =
    routedView(spec)

  private[plans] def deltaProbe(spec: Spec): Option[Seq[String]] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(deltaFor(spec, _))

  private[plans] def deleteProbe(spec: Spec): Option[Seq[String]] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(deletedFor(spec, _))

  private[plans] def mixedProbe(spec: Spec)
      : Option[(Seq[String], Seq[String])] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(mixedFor(spec, _))

  private[plans] def pruneForDeleteView(spec: Spec): Spec =
    pruneForDelete(spec)

  /** The registered source leaf paths of `name` — from the in-memory
    * registry when loaded, else straight from the persisted spec file
    * (no session or relation read-back needed): the Advisor uses this
    * to attribute compensated-delta scan bytes to the summary that
    * actually owns the scanned files, instead of crediting any raw
    * scan that happens to follow a summary scan in plan order.
    */
  private[plans] def leafPathsOf(name: String): Seq[String] =
    lookupByName(name).map(_.fpPaths).getOrElse {
      try specFromJson(new String(java.nio.file.Files.readAllBytes(
        specFile(name).toPath), "UTF-8")).fpPaths
      catch { case scala.util.control.NonFatal(_) => Nil }
    }

  /** Forget the freshness memo for `name`'s source, so the NEXT
    * lookup re-lists immediately instead of after the TTL window —
    * the hook an out-of-band writer (or a test) calls right after
    * appending files, the way warehouses expose an explicit external-
    * table metadata refresh.
    */
  def invalidate(name: String): Unit =
    lookupByName(name).foreach { s =>
      fpMemo.remove(memoKey(s.fpPaths))
      // Spark's own shared FileStatusCache also holds path → (length,
      // mtime) across queries, so an in-place rewrite leaves a stale
      // LENGTH there and ANY read of the path — routed or raw — fails
      // or short-reads until a REFRESH. The external-writer hook
      // clears both layers in one call.
      org.apache.spark.sql.SparkSession.getActiveSession.foreach { sp =>
        s.fpPaths.foreach(p =>
          try sp.catalog.refreshByPath(p)
          catch { case scala.util.control.NonFatal(_) => () })
      }
    }

  /** Canonical path form both sides agree on. The scheme and
    * authority STAY in the key (a local /data/lineitem and an
    * hdfs://nn/data/lineitem are different tables — stripping the
    * scheme would route one onto the other's summary); a missing
    * scheme normalizes to `file` so `/x` and `file:/x` agree.
    */
  private[plans] def canon(p: String): String = {
    val u = new org.apache.hadoop.fs.Path(p).toUri
    val scheme = Option(u.getScheme).getOrElse("file")
    val auth = Option(u.getAuthority).getOrElse("")
    s"$scheme://$auth${u.getPath}"
  }

  /** The source plan must be a BARE scan: a LogicalRelation,
    * optionally under attribute-only Projects / aliases. Anything
    * else (a Filter, a derived projection, a join …) summarizes a
    * SUBSET or transform of the table while registering under the
    * full table's canonical path — after which whole-table aggregates
    * would silently route onto it and return wrong results. Wrong
    * answers beat saved scans, so this throws.
    */
  private def bareScan(plan: LogicalPlan,
      allowFilter: Boolean): Option[LogicalRelation] =
    plan match {
      case lr: LogicalRelation => Some(lr)
      case p: org.apache.spark.sql.catalyst.plans.logical.Project
          if p.projectList.forall(_.isInstanceOf[Attribute]) =>
        bareScan(p.child, allowFilter)
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        bareScan(s.child, allowFilter)
      // a temp view resolves through a View wrapper — still the same
      // bare scan underneath (the view adds no computation)
      case v: org.apache.spark.sql.catalyst.plans.logical.View =>
        bareScan(v.child, allowFilter)
      case f: Filter if allowFilter => bareScan(f.child, allowFilter)
      case _ => None
    }

  private def singleSourcePath(raw: DataFrame,
      allowFilter: Boolean = false): String = {
    val analyzed = raw.queryExecution.analyzed
    val rels = Seq(bareScan(analyzed, allowFilter)).flatten
    require(rels.length == 1,
      "summary source must be a bare table scan (a filtered/derived " +
        "frame would register a subset summary under the full " +
        s"table's path): got ${analyzed.nodeName}")
    rels.head.relation match {
      case fs: HadoopFsRelation =>
        require(fs.location.rootPaths.length == 1,
          "summary source must have a single root path")
        canon(fs.location.rootPaths.head.toString)
      case other =>
        throw new IllegalArgumentException(
          s"summary source must be file-based, got ${other.getClass}")
    }
  }

  private[plans] def pathOf(lr: LogicalRelation): Option[String] =
    lr.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        Some(canon(fs.location.rootPaths.head.toString))
      case _ => None
    }

  /** Structural identity of a measure expression — the matching key
    * both registration and the rewrite render. Covers the shapes a
    * measure is made of (column, cast, literal, arithmetic); anything else
    * is unsupported and disqualifies (None).
    */
  private[plans] def measureKey(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name.toLowerCase(Locale.ROOT))
    case c: Cast =>
      // the eval mode is part of the identity: try_cast nulls where
      // cast throws/keeps, so a try_cast query must NOT route onto
      // plain-cast partials (key mismatch = fail closed to raw)
      measureKey(c.child).map(k =>
        s"cast[${c.evalMode}]($k as ${c.dataType.simpleString})")
    case l: Literal => Some(s"lit(${l.toString})")
    case b: BinaryArithmetic =>
      for { l <- measureKey(b.left); r <- measureKey(b.right) }
        yield s"($l ${b.symbol} $r)"
    case _ => None
  }

  private def keyOfSql(raw: DataFrame, sql: String): String = {
    // the key comes from the OPTIMIZED tree, because that is what the
    // rule matches against: the analyzer wraps int literals in widening
    // casts that constant folding later collapses, so an analyzed-tree
    // key would never equal the optimized-tree key for any measure
    // containing a literal (the KMV hash, derived prices, …)
    val optimized =
      raw.select(expr(sql).as("__m")).queryExecution.optimizedPlan
    val child = optimized.expressions.collectFirst {
      case a: Alias if a.name == "__m" => a.child
    }.getOrElse(throw new IllegalStateException(s"cannot analyze $sql"))
    measureKey(child).getOrElse(throw new IllegalArgumentException(
      s"unsupported measure shape: $sql"))
  }

  val CntCol = "__cnt"

  /** The stored `hll_distinct` measure, resolved against `df`: the
    * sketch input depends on the measure's type.
    */
  private def hllSketchCol(df: DataFrame, measureSql: String,
      precision: Int) = {
    import org.apache.spark.sql.GraftColumnBridge
    val x = df.select(expr(measureSql)).queryExecution.analyzed
      .expressions.head match { case Alias(c, _) => c; case c => c }
    GraftColumnBridge.column(
      HllFunctions.sketchAgg(x, precision).toAggregateExpression())
  }

  private def kmvSketchCol(measureSql: String, k: Int, domain: Long) = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.KmvSketchAgg(
      GraftColumnBridge.expression(expr(measureSql)), k, domain)
      .toAggregateExpression())
  }

  private def kmvUnionCol(c: org.apache.spark.sql.Column, k: Int,
      domain: Long) = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.KmvUnion(
      GraftColumnBridge.expression(c), k, domain, asEstimate = false)
      .toAggregateExpression())
  }

  private def qskSketchCol(priSql: String, valueSql: String, k: Int) = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.QskSketchAgg(
      GraftColumnBridge.expression(expr(priSql)),
      GraftColumnBridge.expression(expr(valueSql)), k)
      .toAggregateExpression())
  }

  private def qskUnionCol(c: org.apache.spark.sql.Column, k: Int) = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.QskUnion(
      GraftColumnBridge.expression(c), k, asEstimate = false)
      .toAggregateExpression())
  }

  /** The quantile-sketch registry key: BOTH declared expressions —
    * the priority hash and the scaled value — must match the query's.
    */
  private def qskKey(raw: DataFrame, priSql: String,
      valueSql: String): String =
    keyOfSql(raw, priSql) + "§" + keyOfSql(raw, valueSql)

  /** Build the summary parquet for `raw` at `grain` and register it.
    * Measures are SQL expression strings (so SQL and Column callers
    * declare them identically); sums should be cast to decimal when
    * the caller wants value-exact re-aggregation. Re-creating the
    * same name rebuilds from scratch — the full-refresh half of the
    * MV maintenance contract ([[refresh]] is the incremental half).
    */
  /** Desugar opt-in SUMSQ measures: `sumsqs = ("sq_x" -> mSql)`
    * stores `sum((mSql) * (mSql))` — a plain sum measure whose key is
    * the measure's self-product, which is exactly what the
    * exact-variance rewrite looks up. Declaring via sums directly is
    * equivalent; this spelling exists so a caller opting into
    * stddev/var routing doesn't hand-write the product.
    */
  private def withSumsqs(sums: Seq[(String, String)],
      sumsqs: Seq[(String, String)]): Seq[(String, String)] =
    sums ++ sumsqs.map { case (n, s) => (n, s"($s) * ($s)") }

  def create(raw: DataFrame, name: String, grain: Seq[String],
      sums: Seq[(String, String)],
      mins: Seq[(String, String)] = Nil,
      maxs: Seq[(String, String)] = Nil,
      hlls: Seq[(String, String)] = Nil,
      hllPrecision: Int = HllFunctions.DefaultPrecision,
      kmvs: Seq[(String, String)] = Nil,
      kmvK: Int = 64,
      kmvDomain: Long = 1000000007L,
      partial: Boolean = false,
      sumsqs: Seq[(String, String)] = Nil,
      where: Option[String] = None,
      qsks: Seq[(String, (String, String))] = Nil,
      qskK: Int = 128,
      // opt out of the per-(grain, file) cube sidecar: skips its
      // write (and the delete/mixed compensation it enables) for
      // tables whose retention never strikes — the build becomes the
      // plain direct aggregate
      fileCube: Boolean = true): Spec = {
    val sums0 = withSumsqs(sums, sumsqs)
    // `partial = true` is the PARTIAL-BUILD half of the incremental
    // lifecycle: the source may be a Filter over the bare scan (e.g.
    // the historical partition) and the summary registers UNROUTABLE
    // — refresh() folds in the remaining batches and its `complete`
    // flag flips routing on. Without the flag a filtered frame is an
    // error: a subset summary must never shadow the full table.
    // `where` is different: a DECLARED grain-column predicate the
    // summary is built under (the warehouse filtered-MV form) — the
    // summary stays routable, but only for queries whose own filters
    // imply the declaration (the rewrite's subsumption gate).
    val source = singleSourcePath(raw, allowFilter = partial)
    val filterSql = where.map(_.trim).getOrElse("")
    val filtered = applyDeclaredFilter(raw, filterSql, grain)
    // names are global: re-creating a name on a DIFFERENT source
    // would leave the old registration shadowed but alive (drop(name)
    // would remove both) — refuse instead. A source may carry many
    // summaries (distinct names); the rewrite picks the best match.
    lookupByName(name).filter(_.source != source).foreach { o =>
      throw new IllegalArgumentException(
        s"summary '$name' is already registered over ${o.source} — " +
          "drop it first")
    }
    val aggCols = (sums0.map { case (n, s) => sum(expr(s)).as(n) } ++
      // per sum measure, its NON-NULL row count (__nn_<name>): the
      // denominator AVG re-aggregation divides by (avg skips nulls,
      // so the grain count can't serve)
      sums0.map { case (n, s) => count(expr(s)).as("__nn_" + n) } ++
      mins.map { case (n, s) => min(expr(s)).as(n) } ++
      maxs.map { case (n, s) => max(expr(s)).as(n) } ++
      // sketch measures: the stored form is the mergeable STATE
      // (HLL registers / KMV bottom-k arrays), so distinct counts
      // re-aggregate across rollups and generations
      hlls.map { case (n, s) =>
        hllSketchCol(raw, s, hllPrecision).as(n) } ++
      kmvs.map { case (n, s) => kmvSketchCol(s, kmvK, kmvDomain).as(n) } ++
      qsks.map { case (n, (ps, vs)) => qskSketchCol(ps, vs, qskK).as(n) })
    val entries = listEntries(Seq(source),
      raw.sparkSession.sparkContext.hadoopConfiguration)
    val fp = fpOf(entries)
    touchFpMemo(Seq(source), fp, entries)
    val proto = Spec(name, source, "", grain, CntCol,
      sums = sums0.map { case (n, s) => keyOfSql(raw, s) -> n }.toMap,
      mins = mins.map { case (n, s) => keyOfSql(raw, s) -> n }.toMap,
      maxs = maxs.map { case (n, s) => keyOfSql(raw, s) -> n }.toMap,
      nns = sums0.map { case (n, s) => keyOfSql(raw, s) -> ("__nn_" + n) }
        .toMap,
      nnSql = sums0.map { case (n, s) => ("__nn_" + n, s) },
      relation = null,
      sumSql = sums0, minSql = mins, maxSql = maxs, gen = 0,
      hlls = hlls.map { case (n, s) => keyOfSql(raw, s) -> n }.toMap,
      hllSql = hlls, hllPrecision = hllPrecision,
      kmvs = kmvs.map { case (n, s) => keyOfSql(raw, s) -> n }.toMap,
      kmvSql = kmvs, kmvK = kmvK, kmvDomain = kmvDomain,
      routable = !partial,
      fpPaths = Seq(source),
      sourceFp = fp,
      builtFiles = entries,
      filterSql = filterSql,
      qsks = qsks.map { case (n, (ps, vs)) =>
        qskKey(raw, ps, vs) -> n }.toMap,
      qskSql = qsks.map { case (n, (ps, vs)) => (n, ps, vs) },
      qskK = qskK)
    if (partial || !fileCube)
      // a partial build's source is a slice — per-file partials over
      // it would not cover the built files, so no cube (deletes
      // suspend, the strict posture); fileCube=false is the caller
      // declining the sidecar outright
      register(filtered.groupBy(grain.map(col): _*)
        .agg(count(lit(1)).as(CntCol), aggCols: _*), proto)
    else {
      // ONE source scan builds BOTH artifacts: the per-(grain, file)
      // cube, and the summary derived from it by the merge algebra
      // (every measure is mergeable, so re-aggregating per-file
      // partials equals the direct aggregate — decimal sums exactly,
      // sketches register-exactly; the schema is identical because
      // mergeAgg casts back to the cube's own column types). The
      // cube's invertible slice (count, sums, non-null legs) persists
      // as the sidecar that makes retention deletes compensable.
      val cube = filtered
        .groupBy((grain.map(col) :+
          org.apache.spark.sql.functions.input_file_name()
            .as(FileCol)): _*)
        .agg(count(lit(1)).as(CntCol), aggCols: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cubePath = newGenDir(name, 0, "_files")
        val invert = Seq(FileCol) ++ grain ++ Seq(CntCol) ++
          sums0.map(_._1) ++ sums0.map("__nn_" + _._1)
        // file-count the sidecar from its OWN row count (a cached-scan
        // job — the cube is persisted): the aggregate's session-default
        // partitioning otherwise writes a KB-class sidecar as dozens of
        // part files, and every delete-compensated read then schedules
        // a map task per file, each emitting its own grain partials —
        // measured 1.77× shuffle-byte growth on q191's read. ~2M rows
        // per file keeps a genuinely large cube parallel.
        val cubeParts = math.max(1L, math.min(
          cube.rdd.getNumPartitions.toLong,
          (cube.count() + 1999999L) / 2000000L)).toInt
        cube.select(invert.map(col): _*)
          .coalesce(cubeParts)
          .write.mode("overwrite").parquet(cubePath)
        val cBytes =
          try listEntries(Seq(cubePath), raw.sparkSession
            .sparkContext.hadoopConfiguration).map(entryLen).sum
          catch { case scala.util.control.NonFatal(_) => -1L }
        val types = cube.schema
          .map(f => f.name -> f.dataType).toMap
        val out = mergeAgg(proto, cube.drop(FileCol), types)
        val registered = register(out, proto.copy(fileCubePath = cubePath,
          cubeBytes = cBytes))
        // the SIZE GATE: the sidecar is grain×file-shaped, so a
        // high-NDV grain over a many-file source can build a cube
        // that dwarfs the summary and taxes every create/refresh.
        // Measured here (both artifacts just hit disk) — past the
        // ratio, the cube is auto-disabled with a NAMED reason
        // (status/graft_summaries/RoutingExplain surface it; deletes
        // then suspend, the strict posture). The byte floor keeps
        // KB-class sidecars — noise-priced at any scale — ungated.
        val sess = raw.sparkSession
        val maxRatio = sess.conf
          .get(CubeMaxRatioKey, "8.0").toDouble
        val minBytes = sess.conf
          .get(CubeMinBytesKey, "65536").toLong
        if (registered.bytes > 0 && cBytes > minBytes &&
            cBytes > maxRatio * registered.bytes) {
          val note = s"gated: cube $cBytes B > ${maxRatio}x summary " +
            s"${registered.bytes} B (conf $CubeMaxRatioKey) — " +
            "sidecar disabled, deletes suspend"
          val gated = registered.copy(fileCubePath = "",
            cubeBytes = -1L, cubeNote = note)
          persistSpec(gated, expectGen = Some(registered.gen))
          reg.put(regKey(gated.source, gated.name), gated)
          deleteDir(cubePath,
            sess.sparkContext.hadoopConfiguration)
          gated
        } else registered
      } finally cube.unpersist()
    }
  }

  val CubeMaxRatioKey = "spark.graft.summaryRewrite.fileCube.maxRatio"
  val CubeMinBytesKey = "spark.graft.summaryRewrite.fileCube.minBytes"

  /** The file-identity column of the cube sidecar. */
  private val FileCol = "__gf_file"

  /** Apply (and validate) a declared summary WHERE clause: it must
    * parse, reference GRAIN columns only (a non-grain predicate could
    * never be matched by a routable query — its filters are
    * grain-gated — so it would register a permanently unroutable
    * subset), and be deterministic. Applied to the raw rows before
    * the build aggregate AND to every refresh/delta batch
    * ([[partialAgg]]), so every generation aggregates the same slice.
    */
  private def applyDeclaredFilter(raw: DataFrame, filterSql: String,
      grain: Seq[String]): DataFrame =
    if (filterSql.isEmpty) raw
    else {
      val filtered = raw.filter(expr(filterSql))
      val cond = filtered.queryExecution.analyzed match {
        case org.apache.spark.sql.catalyst.plans.logical
              .Filter(c, _) => c
        case other => throw new IllegalArgumentException(
          s"summary WHERE did not analyze to a filter: $other")
      }
      val bad = cond.references.map(_.name).filterNot(grain.contains)
      require(bad.isEmpty,
        s"summary WHERE must reference grain columns only; " +
          s"got non-grain: ${bad.mkString(", ")}")
      require(cond.deterministic,
        "summary WHERE must be deterministic")
      // the routing side can only PROVE subsumption for declarations
      // it can resolve WITHOUT the analyzer — bare attribute
      // comparisons, IN-lists, null-safe equality, and AND/OR trees
      // of them (SummaryRewrite.resolveDeclared). A declaration
      // outside that grammar (upper(flag)='A', a UDF…) would
      // register, build, and then be PERMANENTLY unroutable — a
      // silently dead MV discovered only via RoutingExplain. Reject
      // it at registration, where the author can still rephrase.
      require(SummaryRewrite.resolveDeclared(filterSql,
          raw.queryExecution.analyzed.output).isDefined,
        s"summary WHERE '$filterSql' is outside the provable " +
          "subsumption grammar (bare column comparisons, IN-lists, " +
          "<=>, and AND/OR trees of them) — the built summary could " +
          "never route. Rephrase the declaration in those shapes.")
      filtered
    }

  /** The composite registry key of a JOIN summary: every canonical
    * leaf path plus every canonical equi-edge (each edge rendered
    * `path.col=path.col` with the lexicographically smaller endpoint
    * first, the edge list sorted). Everything that makes two join
    * trees interchangeable is in the key — a query routes only when
    * it INNER-joins the SAME tables on the SAME column equalities, in
    * any join order or associativity.
    */
  private[plans] def joinSourceKey(paths: Seq[String],
      edges: Seq[JoinEdge]): String =
    paths.sorted.mkString("⋈") + "?" +
      edges.map(edgeStr).sorted.mkString("&")

  private[plans] def lookupJoinAll(paths: Seq[String],
      edges: Seq[JoinEdge]): Seq[Spec] =
    lookupAll(joinSourceKey(paths, edges))

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  /** A resolved cross-leaf equality: (pathA, colA, pathB, colB) with
    * the lexicographically smaller `path.col` endpoint first — the
    * structured form the canonical edge strings render from, kept so
    * the joined-delta substrate can REBUILD the join without parsing
    * paths back out of strings.
    */
  type JoinEdge = (String, String, String, String)

  private[plans] def edgeStr(e: JoinEdge): String =
    s"${e._1}.${e._2}=${e._3}.${e._4}"

  /** Resolve raw join-condition conjuncts against the leaf scans into
    * canonical edges plus the key AttributeReferences (the
    * implied-not-null gate's input). None when any conjunct is not a
    * cross-leaf column equality, or when the resulting graph does not
    * CONNECT all leaves (a disconnected "join" hides a cartesian slice
    * the key could not distinguish).
    */
  private[plans] def resolveEdges(conds: Seq[Expression],
      leaves: Seq[(String, LogicalRelation)])
      : Option[(Seq[JoinEdge], AttributeSet)] = {
    def leafOf(a: Attribute): Int =
      leaves.indexWhere(_._2.outputSet.contains(a))
    // union-find over leaf indices for the connectivity check
    val parent = Array.tabulate(leaves.length)(identity)
    def find(i: Int): Int =
      if (parent(i) == i) i else { parent(i) = find(parent(i)); parent(i) }
    val resolved = conds.map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val (la, lb) = (leafOf(a), leafOf(b))
        if (la < 0 || lb < 0 || la == lb) None
        else {
          parent(find(la)) = find(lb)
          val (pa, pb) = (leaves(la)._1, leaves(lb)._1)
          val edge =
            if (s"$pa.${a.name}" <= s"$pb.${b.name}")
              (pa, a.name, pb, b.name)
            else (pb, b.name, pa, a.name)
          Some((edge, Seq(a, b)))
        }
      case _ => None
    }
    if (resolved.exists(_.isEmpty)) None
    else if (leaves.indices.map(find).distinct.length != 1) None
    else Some((resolved.flatten.map(_._1),
      AttributeSet(resolved.flatten.flatMap(_._2))))
  }

  /** Register a summary over an INNER equi-join of N bare scans — the
    * BigQuery-MV shape the single-table [[create]] can't express, in
    * its general STAR form (fact ⋈ dim ⋈ dim …): `raw` must be a tree
    * of INNER joins whose leaves are bare single-path scans and whose
    * conditions are cross-leaf column equalities spanning every leaf —
    * the same wrong-answer discipline as [[create]]'s bare-scan rule,
    * join edition: a filtered leaf, an outer join, a non-equi
    * condition, or a disconnected (cartesian) slice would summarize
    * rows a later query's identical-looking join doesn't produce, so
    * anything but the exact shape throws.
    *
    * Routing: [[SummaryRewrite]] rewrites a qualifying aggregate whose
    * child inner-joins the SAME tables on the SAME column equalities —
    * in ANY join order or associativity (the registry key is the
    * canonical sorted path + edge set). The joins are pre-computed in
    * the summary, so at 100 TB the rewrite deletes the fact-table scan
    * AND every join shuffle — the costs that dominate a star-schema
    * dashboard aggregate. Grain and measure columns may come from any
    * leaf (names must be unambiguous across the join — Spark itself
    * rejects ambiguous references at build time, and the rewrite
    * refuses duplicated names not equated by the join keys). Self-
    * joins are out of scope (the name-based grain mapping cannot tell
    * two instances of one table apart).
    */
  def createJoined(raw: DataFrame, name: String, grain: Seq[String],
      sums: Seq[(String, String)],
      mins: Seq[(String, String)] = Nil,
      maxs: Seq[(String, String)] = Nil,
      hlls: Seq[(String, String)] = Nil,
      hllPrecision: Int = HllFunctions.DefaultPrecision,
      kmvs: Seq[(String, String)] = Nil,
      kmvK: Int = 64,
      kmvDomain: Long = 1000000007L,
      partial: Boolean = false,
      sumsqs: Seq[(String, String)] = Nil,
      where: Option[String] = None,
      qsks: Seq[(String, (String, String))] = Nil,
      qskK: Int = 128): Spec = {
    val sums0 = withSumsqs(sums, sumsqs)
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Project, SubqueryAlias}
    import org.apache.spark.sql.catalyst.plans.Inner
    // `partial = true` mirrors create()'s incremental lifecycle: a
    // leaf may be a Filter over its bare scan (the historical slice
    // of the fact table) and the summary registers UNROUTABLE until a
    // refresh with complete = true folds in the remaining joined
    // batches. Without the flag a filtered leaf is an error — a
    // subset summary must never shadow the full join.
    def flatten(p: LogicalPlan): (Seq[LogicalRelation], Seq[Expression]) =
      p match {
        case pr: Project
            if pr.projectList.forall(_.isInstanceOf[Attribute]) =>
          flatten(pr.child)
        case s: SubqueryAlias => flatten(s.child)
        case j: Join if j.joinType == Inner && j.condition.isDefined =>
          val (ll, cl) = flatten(j.left)
          val (lr, cr) = flatten(j.right)
          (ll ++ lr, cl ++ cr ++ conjuncts(j.condition.get))
        case other =>
          (Seq(bareScan(other, allowFilter = partial).getOrElse(
            throw new IllegalArgumentException(
              "every joined-summary leaf must be a bare table scan " +
                "under INNER equi-joins (a filtered/derived leaf would " +
                "register a subset summary; an outer join would drop " +
                s"null-extensions): got ${other.nodeName}"))), Nil)
      }
    val (lrs, conds) = flatten(raw.queryExecution.analyzed)
    require(lrs.length >= 2,
      "joined summary source must join at least two tables " +
        "(use create for a single table)")
    val leaves = lrs.map(lr => pathOf(lr).getOrElse(
      throw new IllegalArgumentException(
        "every joined-summary leaf must be a single-path file scan"))
      -> lr)
    require(leaves.map(_._1).distinct.length == leaves.length,
      "joined summaries over self-joins are not supported")
    val (edges, _) = resolveEdges(conds, leaves).getOrElse(
      throw new IllegalArgumentException(
        "joined summary conditions must be cross-leaf column " +
          "equalities whose graph CONNECTS every joined table " +
          s"(got: ${conds.mkString(", ")})"))
    val paths = leaves.map(_._1)
    val source = joinSourceKey(paths, edges)
    lookupByName(name).filter(_.source != source).foreach { o =>
      throw new IllegalArgumentException(
        s"summary '$name' is already registered over ${o.source} — " +
          "drop it first")
    }
    val aggCols = (sums0.map { case (n, s) => sum(expr(s)).as(n) } ++
      sums0.map { case (n, s) => count(expr(s)).as("__nn_" + n) } ++
      mins.map { case (n, s) => min(expr(s)).as(n) } ++
      maxs.map { case (n, s) => max(expr(s)).as(n) } ++
      // sketch measures work over any substrate: the stored form is
      // the mergeable STATE, exactly as in create()
      hlls.map { case (n, s) =>
        hllSketchCol(raw, s, hllPrecision).as(n) } ++
      kmvs.map { case (n, s) => kmvSketchCol(s, kmvK, kmvDomain).as(n) } ++
      qsks.map { case (n, (ps, vs)) => qskSketchCol(ps, vs, qskK).as(n) })
    val filterSql = where.map(_.trim).getOrElse("")
    val out = applyDeclaredFilter(raw, filterSql, grain)
      .groupBy(grain.map(col): _*)
      .agg(count(lit(1)).as(CntCol), aggCols: _*)
    val joinEntries = listEntries(paths,
      raw.sparkSession.sparkContext.hadoopConfiguration)
    val joinFp = fpOf(joinEntries)
    touchFpMemo(paths, joinFp, joinEntries)
    register(out, Spec(name, source, "", grain, CntCol,
      sums = sums0.map { case (n, s) => keyOfSql(raw, s) -> n }.toMap,
      mins = mins.map { case (n, s) => keyOfSql(raw, s) -> n }.toMap,
      maxs = maxs.map { case (n, s) => keyOfSql(raw, s) -> n }.toMap,
      nns = sums0.map { case (n, s) => keyOfSql(raw, s) -> ("__nn_" + n) }
        .toMap,
      nnSql = sums0.map { case (n, s) => ("__nn_" + n, s) },
      relation = null,
      sumSql = sums0, minSql = mins, maxSql = maxs, gen = 0,
      hlls = hlls.map { case (n, s) => keyOfSql(raw, s) -> n }.toMap,
      hllSql = hlls, hllPrecision = hllPrecision,
      kmvs = kmvs.map { case (n, s) => keyOfSql(raw, s) -> n }.toMap,
      kmvSql = kmvs, kmvK = kmvK, kmvDomain = kmvDomain,
      routable = !partial,
      fpPaths = paths,
      sourceFp = joinFp,
      builtFiles = joinEntries,
      joinEdges = edges,
      filterSql = filterSql,
      qsks = qsks.map { case (n, (ps, vs)) =>
        qskKey(raw, ps, vs) -> n }.toMap,
      qskSql = qsks.map { case (n, (ps, vs)) => (n, ps, vs) },
      qskK = qskK))
  }

  /** Write a summary generation, read it back, and (re-)register. A
    * generation gets its own per-writer directory ([[newGenDir]]) so
    * a refresh never overwrites the files the merge is reading — and
    * a concurrent fold in another engine never overwrites THIS one;
    * the previous generation's directory is deleted after the new
    * one registers.
    */
  private def deleteDir(p: String,
      hconf: org.apache.hadoop.conf.Configuration): Unit =
    try {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).delete(hp, true)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Write and catalog a generation. `displaced` is the spec this
    * fold supersedes when the caller already removed it from the
    * registry (the refresh suspension) — a plain create picks the
    * shadowed entry up from the registry itself. The displaced
    * generation's directories are NOT deleted here: they become the
    * new spec's `retired` list and fall only at the fold AFTER this
    * one, so a reader that planned against them mid-refresh finishes
    * its scan (reader-safe refresh — the BigQuery-MV availability
    * contract). What falls now is the generation retired one fold
    * ago. `expectGen` threads the persist-time CAS.
    */
  private def register(out: DataFrame, proto: Spec,
      displaced: Option[Spec] = None,
      expectGen: Option[Int] = None): Spec = {
    val spark = out.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val path = newGenDir(proto.name, proto.gen)
    out.write.mode("overwrite").parquet(path)
    val rel = spark.read.parquet(path).queryExecution.analyzed match {
      case lr: LogicalRelation => lr
      case other => throw new IllegalStateException(
        s"summary read-back is not a file relation: ${other.getClass}")
    }
    // read-back statistics in ONE grain-sized job: the row count,
    // every grain column's approximate NDV, and 16-bin equi-height
    // endpoints for the numeric ones — the selectivity inputs the
    // best-match cost discounts a candidate's scan bytes with
    val back = spark.read.parquet(path)
    val numericGrain = proto.grain.filter(c =>
      back.schema.fields.exists(f => f.name == c &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
    val fracs = (0 to 16).map(_.toDouble / 16).toArray
    val (nRows, grainNdv, grainPct) =
      try {
        import org.apache.spark.sql.functions.{approx_count_distinct, percentile_approx}
        val aggs = Seq(count(lit(1)).as("__n")) ++
          proto.grain.map(c =>
            approx_count_distinct(col(c)).as("__ndv_" + c)) ++
          numericGrain.map(c =>
            percentile_approx(col(c).cast("double"), lit(fracs),
              lit(1000)).as("__pct_" + c))
        val r = back.agg(aggs.head, aggs.tail: _*).collect()(0)
        val nd = proto.grain.map { c =>
          val i = r.fieldIndex("__ndv_" + c)
          c -> (if (r.isNullAt(i)) 0L else r.getLong(i))
        }.filter(_._2 > 0).toMap
        val pc = numericGrain.flatMap { c =>
          val i = r.fieldIndex("__pct_" + c)
          if (r.isNullAt(i)) None
          else Some(c -> r.getSeq[Double](i).toSeq)
        }.toMap
        (r.getLong(r.fieldIndex("__n")), nd, pc)
      } catch { case scala.util.control.NonFatal(_) =>
        (-1L, Map.empty[String, Long], Map.empty[String, Seq[Double]])
      }
    // measured on-disk size: one local listing of the directory just
    // written — the best-match cost's primary unit
    val nBytes =
      try listEntries(Seq(path), hconf).map(entryLen).sum
      catch { case scala.util.control.NonFatal(_) => -1L }
    val prev = displaced.orElse(
      Option(reg.get(regKey(proto.source, proto.name)))
        .filter(_.name == proto.name))
    val stillLive = Seq(path, proto.fileCubePath).filter(_.nonEmpty)
    val displacedDirs = prev.toSeq
      .flatMap(o => Seq(o.summaryPath, o.fileCubePath))
      .filter(p => p != null && p.nonEmpty)
      .filterNot(stillLive.contains)
      .distinct
    val (lapsing, spared) = splitLapse(spark,
      prev.toSeq.flatMap(_.retired), (stillLive ++ displacedDirs).toSet)
    val retiring = (displacedDirs ++ spared).distinct
    val spec = proto.copy(summaryPath = path, relation = rel,
      rows = nRows, bytes = nBytes, retired = retiring,
      grainNdv = grainNdv, grainPct = grainPct)
    // the catalog half: specs outlive the session. A CAS loss means
    // another engine folded first — remove the generation we just
    // wrote (nothing references it) and refuse loudly.
    try persistSpec(spec, expectGen)
    catch { case t: Throwable => deleteDir(path, hconf); throw t }
    reg.put(regKey(spec.source, spec.name), spec)
    lapsing.foreach(deleteDir(_, hconf))
    spec
  }

  /** Minimum AGE a retired generation must reach before the next fold
    * deletes it (ms). 0 (default) = the next fold always lapses it —
    * same-JVM reader safety, bounded 2× footprint. Set to a few
    * minutes on a warehouse shared by several engines so a reader in
    * another JVM survives two folds landing inside one scan; the
    * spared directories stay in the new spec's `retired` list (live
    * to gcOrphans) and age out at a later fold.
    */
  val RetentionGraceKey = "spark.graft.summaryRewrite.retention.graceMs"

  /** Split the previous fold's retired dirs into (lapsing now,
    * spared by the retention grace). One retained generation covers
    * every same-JVM reader by construction — a reader pins its
    * generation at plan time; the timed grace covers CROSS-JVM
    * readers against a fast double-fold.
    */
  private def splitLapse(s: org.apache.spark.sql.SparkSession,
      retired: Seq[String], keep: Set[String])
      : (Seq[String], Seq[String]) = {
    val graceMs =
      try s.conf.get(RetentionGraceKey, "0").toLong
      catch { case _: NumberFormatException => 0L }
    retired.distinct.filterNot(keep).partition { p =>
      graceMs <= 0L || {
        val f = new java.io.File(p)
        !f.exists() ||
          System.currentTimeMillis() - f.lastModified() > graceMs
      }
    }
  }

  private def lookupByName(name: String): Option[Spec] = {
    import scala.jdk.CollectionConverters._
    ensureLoaded()
    reg.values().asScala.find(_.name == name)
  }

  /** Whether a USABLE summary of this name is currently registered —
    * the skip-create guard query wrappers use so a caller (e.g. the
    * bench) can pre-register once and measure the ROUTED READ alone.
    * Routable + fresh, not mere presence: a persisted spec whose
    * source changed while the engine was down must trigger a
    * re-create, not silently leave every query running raw.
    */
  def has(name: String): Boolean =
    lookupByName(name).exists(s => s.routable && fresh(s))

  /** Mere registration (no freshness/routability claim) — the guard a
    * delta-read demo needs: its summary is DELIBERATELY stale, so
    * [[has]] (routable AND fresh) would always re-create it.
    */
  def isRegistered(name: String): Boolean = lookupByName(name).isDefined

  /** One line per registered summary — name, substrate, grain,
    * generation, and live freshness state (`fresh` / `stale:delta(n)`
    * / `stale:suspended` / `partial`) — the `SHOW MATERIALIZED VIEWS`
    * of this catalog. Pays one (memoized) listing per source.
    */
  def status(): String = {
    val rows = statusRows()
    if (rows.isEmpty) "no summaries registered"
    else rows.map { r =>
      s"${r.name} [${r.substrate}] grain=(${r.grain}) " +
        s"gen=${r.gen} ${r.state}" +
        (if (r.where.nonEmpty) s" where=(${r.where})" else "") +
        (if (r.measures.nonEmpty) s" measures=(${r.measures})" else "") +
        (if (r.cube == "present") s" cube=${r.cubeBytes}B"
         else if (r.cube != "none") s" cube=(${r.cube})" else "")
    }.mkString("\n")
  }

  /** One catalog row per registered summary — the structured form
    * [[status]] renders, and the row set the SQL surface
    * (`SELECT * FROM graft_summaries()`) returns.
    */
  final case class StatusRow(name: String, substrate: String,
      grain: String, gen: Int, state: String, where: String,
      measures: String, rows: Long, bytes: Long,
      cubeBytes: Long, cube: String)

  def statusRows(): Seq[StatusRow] = {
    import scala.jdk.CollectionConverters._
    ensureLoaded()
    reg.values().asScala.toSeq.sortBy(_.name).map { s =>
      val substrate =
        if (s.fpPaths.length > 1) s"join of ${s.fpPaths.length} tables"
        else "table"
      val state =
        if (!s.routable) "partial"
        else if (fresh(s)) "fresh"
        else deltaProbe(s) match {
          case Some(fs) => s"stale:delta(${fs.length} file(s))"
          case None => deleteProbe(s) match {
            case Some(ms) => s"stale:delete-comp(${ms.length} file(s))"
            case None => mixedProbe(s) match {
              case Some((ms, ex)) =>
                s"stale:mixed-comp(-${ms.length}/+${ex.length} file(s))"
              case None => "stale:suspended"
            }
          }
        }
      val measures = (s.sumSql.map(_._1) ++ s.minSql.map(_._1) ++
        s.maxSql.map(_._1) ++ s.hllSql.map(_._1) ++ s.kmvSql.map(_._1) ++
        s.qskSql.map(_._1))
        .mkString(", ")
      val cube =
        if (s.fileCubePath.nonEmpty) "present"
        else if (s.cubeNote.nonEmpty) s.cubeNote
        else "none"
      StatusRow(s.name, substrate, s.grain.mkString(", "), s.gen,
        state, s.filterSql, measures, s.rows, s.bytes,
        s.cubeBytes, cube)
    }
  }

  /** Incremental maintenance (the MV refresh): fold a BATCH of new raw
    * rows into the registered summary WITHOUT re-reading the source
    * table — every summary measure is mergeable (counts and sums
    * re-add, min/max re-extremize), so the refresh summarizes the
    * batch at the grain, unions it with the current summary, and
    * re-aggregates. Cost is O(batch + summary), never O(source) — the
    * q157/q166 incremental discipline applied to the MV lifecycle.
    * Measures cast back to the stored column types, so the schema is
    * generation-stable (a re-aggregated decimal widens, but its VALUE
    * is the full-rebuild value, which fit the original type).
    *
    * For a JOINED summary ([[createJoined]]) the batch is the joined
    * DELTA — new fact rows joined against the dim (a batch-sized,
    * broadcastable join at any corpus scale); the grain/measure
    * algebra is identical from there.
    */
  /** The per-grain partial aggregate of a raw batch — the same
    * measure legs [[create]] stores, shared by [[refresh]] and the
    * delta-compensated read substrate.
    */
  private def partialAgg(spec: Spec, batch: DataFrame): DataFrame =
    partialAggBy(spec, batch, spec.grain.map(col))

  /** [[partialAgg]] keyed additionally by `input_file_name()` — the
    * FULL-measure per-(grain, file) cube. [[rebless]] uses it to
    * rebuild the sidecar and the verification aggregate from one
    * source scan, the same one-scan-two-artifacts shape as
    * [[create]].
    */
  private def partialAggWithFile(spec: Spec, batch: DataFrame): DataFrame =
    partialAggBy(spec, batch, spec.grain.map(col) :+
      org.apache.spark.sql.functions.input_file_name().as(FileCol))

  private def partialAggBy(spec: Spec, batch: DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    // a FILTERED summary aggregates only its declared slice — every
    // refresh batch and delta read goes through the same predicate,
    // so all generations cover exactly the declaration
    val src = if (spec.filterSql.isEmpty) batch
      else batch.filter(expr(spec.filterSql))
    val aggCols = (spec.sumSql.map { case (n, s) => sum(expr(s)).as(n) } ++
      spec.nnSql.map { case (n, s) => count(expr(s)).as(n) } ++
      spec.minSql.map { case (n, s) => min(expr(s)).as(n) } ++
      spec.maxSql.map { case (n, s) => max(expr(s)).as(n) } ++
      spec.hllSql.map { case (n, s) =>
        hllSketchCol(src, s, spec.hllPrecision).as(n) } ++
      spec.kmvSql.map { case (n, s) =>
        kmvSketchCol(s, spec.kmvK, spec.kmvDomain).as(n) } ++
      spec.qskSql.map { case (n, ps, vs) =>
        qskSketchCol(ps, vs, spec.qskK).as(n) })
    src.groupBy(keys: _*)
      .agg(count(lit(1)).as(spec.cntCol), aggCols: _*)
  }

  /** Re-aggregate a union of summary generations/partials at the
    * grain — counts and sums re-add, min/max re-extremize, sketches
    * union — casting measures back to the STORED column types so the
    * schema is generation-stable (a re-aggregated decimal widens, but
    * its VALUE is the full-rebuild value, which fit the original
    * type).
    */
  private def mergeAgg(spec: Spec, unioned: DataFrame,
      types: Map[String, org.apache.spark.sql.types.DataType])
      : DataFrame = {
    val mergeCols =
      Seq(sum(col(spec.cntCol)).cast(types(spec.cntCol)).as(spec.cntCol)) ++
        spec.sumSql.map { case (n, _) =>
          sum(col(n)).cast(types(n)).as(n) } ++
        spec.nnSql.map { case (n, _) =>
          sum(col(n)).cast(types(n)).as(n) } ++
        spec.minSql.map { case (n, _) => min(col(n)).as(n) } ++
        spec.maxSql.map { case (n, _) => max(col(n)).as(n) } ++
        spec.hllSql.map { case (n, _) => hll_union_agg(col(n)).as(n) } ++
        spec.kmvSql.map { case (n, _) =>
          kmvUnionCol(col(n), spec.kmvK, spec.kmvDomain).as(n) } ++
        spec.qskSql.map { case (n, _, _) =>
          qskUnionCol(col(n), spec.qskK).as(n) }
    unioned.groupBy(spec.grain.map(col): _*)
      .agg(mergeCols.head, mergeCols.tail: _*)
  }

  /** The delta-compensated substrate the rewrite swaps in when
    * [[lookup]]/[[lookupJoin]] hands it a delta-bearing spec: the
    * analyzed plan of `merge(summary, partialAgg(delta))` —
    * [[refresh]]'s exact algebra as a READ, no state mutated. For a
    * single-table summary the delta is the extra files themselves;
    * for a JOINED summary it is [[joinedDelta]]'s telescoped
    * inclusion–exclusion over the appended leaves (single-leaf
    * appends degenerate to Δleaf ⋈ built-others — a batch-sized,
    * broadcastable join when the append lands on the fact table, the
    * common case), every read pinned to the blessed file listing.
    * Built fresh per rewrite site (distinct exprIds);
    * any construction failure (a delta file with a foreign schema, a
    * vanished file, an ambiguous rebuilt join) fails closed to None
    * and the query runs raw.
    */
  // the delta scan's analyzed relation, memoized per summary name and
  // delta file set: the optimizer fires the rule several times per
  // query (and a dashboard burst, many times per TTL window), and
  // re-running spark.read.parquet per firing pays file-listing +
  // schema-inference I/O each time. Like `Spec.relation`, the cached
  // relation is `newInstance()`d per use so exprIds never collide.
  private val deltaRelMemo = new java.util.concurrent
    .ConcurrentHashMap[String, (String, LogicalRelation)]()

  /** Read a delta file set AS ITS TABLE's rows: `basePath` anchors
    * partition discovery at the source root, so files appended under
    * Hive-style `k=v` directories keep their partition columns — a
    * bare file-list read would silently drop them and the partial
    * aggregate would miss grain columns (fail closed, but the whole
    * point is to route the partitioned case: partition dirs are THE
    * append layout at warehouse scale).
    */
  private def readDelta(s: org.apache.spark.sql.SparkSession,
      basePath: String, files: Seq[String]): DataFrame =
    s.read.option("basePath", basePath).parquet(files: _*)

  // memo for PINNED file-set reads (the joined-delta fold reads up to
  // 3 states per leaf, and the optimizer fires the rule several times
  // per query): explicit-file parquet reads pay listing + footer
  // schema inference per call, so the analyzed relation is cached per
  // (base, file set) and newInstance()d per use — the deltaRelMemo
  // discipline, generalized. Bounded LRU: generations and TTL windows
  // retire keys naturally, the bound stops slow accumulation.
  private val pinnedRelMemo = new java.util.LinkedHashMap[
      String, LogicalRelation](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, LogicalRelation]): Boolean =
      size > 48
  }

  /** Pinned read keyed on FULL listing entries (`path:len:mtime`):
    * a file rewritten in place between lookups misses the cache and
    * re-reads, instead of serving a relation whose baked-in lengths
    * are stale — the same fail-closed posture as the delta gate.
    */
  private def readDeltaMemo(s: org.apache.spark.sql.SparkSession,
      basePath: String, entries: Seq[String]): DataFrame =
    pinnedRelMemo.synchronized {
      val files = entries.map(entryPath)
      val key = basePath + "#" + fpOf(entries.sorted)
      val hit = pinnedRelMemo.get(key)
      val lr =
        if (hit != null) hit
        else readDelta(s, basePath, files).queryExecution.analyzed match {
          case r: LogicalRelation =>
            pinnedRelMemo.put(key, r)
            r
          case other =>
            // non-relation read-back (cannot happen for parquet):
            // fall through uncached
            return org.apache.spark.sql.GraftColumnBridge.ofPlan(s, other)
        }
      org.apache.spark.sql.GraftColumnBridge.ofPlan(s, lr.newInstance())
    }

  private def deltaRelation(spec: Spec,
      s: org.apache.spark.sql.SparkSession): Option[LogicalRelation] = {
    // deltaFiles are full `path:len:mtime` entries, so the memo key
    // distinguishes a delta file rewritten in place (new len/mtime →
    // new key → fresh read) from a true cache hit
    val key = spec.deltaFiles.sorted.mkString("|") + "#g" + spec.gen
    Option(deltaRelMemo.get(spec.name)).filter(_._1 == key)
      .map(_._2.newInstance())
      .orElse {
        readDelta(s, spec.fpPaths.head, spec.deltaFiles.map(entryPath))
          .queryExecution.analyzed match {
          case lr: LogicalRelation =>
            deltaRelMemo.put(spec.name, (key, lr))
            Some(lr.newInstance())
          case _ => None
        }
      }
  }

  // (no per-name eviction hook: both memos key on file sets/gens, so
  // mutations mint new keys; drop/clear/unload clear them wholesale —
  // a rewritten-in-place delta file is outside the append-only
  // contract for BOTH memos, same as deltaRelMemo since r14)

  private[plans] def compensatedPlan(spec: Spec): Option[LogicalPlan] =
    org.apache.spark.sql.SparkSession.getActiveSession.flatMap { s =>
      try {
        import org.apache.spark.sql.GraftColumnBridge.ofPlan
        if (spec.deletedFiles.nonEmpty) deleteCompensatedPlan(spec, s)
        else {
          val delta: Option[DataFrame] =
            if (spec.fpPaths.length == 1)
              deltaRelation(spec, s).map(ofPlan(s, _))
            else joinedDelta(spec, s)
          delta.map { d =>
            // the summary side re-instances the relation captured at
            // register() — no re-read, no listing, fresh exprIds
            val current = ofPlan(s, spec.relation.newInstance())
            val types = current.schema.map(f => f.name -> f.dataType).toMap
            mergeAgg(spec, current.unionByName(partialAgg(spec, d)), types)
              .queryExecution.analyzed
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** [[canon]] for an `input_file_name()` rendering. Spark stores the
    * URL-ENCODED URI string (a space is `%20`, the local scheme is
    * `file:///`) while [[listEntries]] carries Hadoop's DECODED form
    * (`file:/… with spaces`) — both sides must go through the same
    * decode before membership, or a deleted file whose path contains
    * any encodable character matches nothing and the "compensated"
    * read silently serves pre-delete results. `java.net.URI` decodes
    * percent-escapes in `getPath`, which is exactly the form
    * [[canon]] produces from a listing path.
    */
  private def canonOfUri(v: String): String =
    try {
      val u = new java.net.URI(v)
      if (u.getScheme == null) canon(v)
      else {
        val auth = Option(u.getAuthority).getOrElse("")
        s"${u.getScheme}://$auth${u.getPath}"
      }
    } catch { case _: java.net.URISyntaxException => canon(v) }

  // the distinct stored file identities of a cube sidecar, each with
  // its canonical decode — one column-pruned scan of the (summary-KB
  // class) sidecar, memoized because the optimizer re-fires the rule
  // per query. Cube content is immutable per (path, fingerprint):
  // every fold mints a new path, and a re-create over the same name
  // re-fingerprints.
  private val cubeFilesMemo = new java.util.concurrent
    .ConcurrentHashMap[String, Seq[(String, String)]]()

  private def cubeFileIndex(spec: Spec,
      s: org.apache.spark.sql.SparkSession): Seq[(String, String)] = {
    val key = spec.fileCubePath + "|" + spec.sourceFp
    Option(cubeFilesMemo.get(key)).getOrElse {
      val raws = s.read.parquet(spec.fileCubePath)
        .select(col(FileCol)).distinct()
        .collect().map(_.getString(0)).toSeq
      val idx = raws.map(r => (r, canonOfUri(r)))
      cubeFilesMemo.put(key, idx)
      idx
    }
  }

  /** The cube's stored identities for the `missing` canonical paths —
    * the doomed-row membership set for delete/mixed compensation.
    * None (fail closed) when a missing built file matches zero cube
    * rows, with ONE carve-out: a FILTERED summary legitimately has no
    * cube rows for a built file whose every row the declared WHERE
    * dropped — subtracting nothing for it is exactly correct. The
    * carve-out holds only while the decode namespaces demonstrably
    * agree (every cube identity canon-matches some built file); any
    * cube identity outside the built listing means the two path
    * renderings drifted, and the fail-closed default stands —
    * suspending that rare case is cheaper than ever serving a stale
    * answer to an unanticipated rendering change.
    */
  private def doomedCubeFiles(spec: Spec,
      s: org.apache.spark.sql.SparkSession,
      missing: Seq[String]): Option[Seq[String]] = {
    val idx = cubeFileIndex(spec, s)
    val byCanon = idx.groupBy(_._2)
    val unmatched = missing.filterNot(byCanon.contains)
    val explained = unmatched.isEmpty ||
      (spec.filterSql.nonEmpty && {
        val builtCanon =
          spec.builtFiles.map(e => canon(entryPath(e))).toSet
        idx.forall { case (_, c) => builtCanon.contains(c) }
      })
    if (!explained) None
    else Some(missing.flatMap(m =>
      byCanon.getOrElse(m, Nil).map(_._1)).distinct)
  }

  /** The DELETE-compensated substrate: `merge(summary, negate(cube
    * rows of the deleted files))`, filtered to `cnt > 0` so a grain
    * whose every raw row died disappears (grain-only pass-through
    * aggregates — distinct counts, percentile frequencies — stay
    * exact), and with each sum leg nullified where its non-null count
    * hit zero (SUM over no non-null inputs is NULL, not 0). Reads the
    * summary relation plus the cube sidecar only — the deleted data
    * is gone, which is exactly why the cube recorded its partials
    * while it existed. The spec arriving here is [[pruneForDelete]]d:
    * only invertible measures are declared, so the surgery can never
    * request a min/max/sketch column this substrate cannot serve.
    */
  private def deleteCompensatedPlan(spec: Spec,
      s: org.apache.spark.sql.SparkSession): Option[LogicalPlan] = {
    import org.apache.spark.sql.GraftColumnBridge.ofPlan
    import org.apache.spark.sql.functions.when
    val missing = spec.deletedFiles.map(e => canon(entryPath(e)))
    if (missing.isEmpty) return None
    val cube = s.read.parquet(spec.fileCubePath)
    val doomedRaw = doomedCubeFiles(spec, s, missing)
      .getOrElse(return None) // fail closed: raw read beats a silent
    // pre-delete answer when a doomed file matches zero cube rows
    val doomed = cube.filter(col(FileCol).isin(doomedRaw: _*))
    val current = ofPlan(s, spec.relation.newInstance())
    val types = current.schema.map(f => f.name -> f.dataType).toMap
    val invert = Seq(spec.cntCol) ++ spec.sumSql.map(_._1) ++
      spec.nnSql.map(_._1)
    val keep = spec.grain ++ invert
    val negated = doomed.select(
      (spec.grain.map(col) ++ invert.map(c =>
        (col(c) * lit(-1)).cast(types(c)).as(c))): _*)
    // MIXED drift carries appended/rewritten files too: their pinned
    // partial aggregate adds in alongside the subtraction — the spec
    // arriving here is pruned, so the partial holds the same
    // invertible columns the merge expects
    val addend: Option[DataFrame] =
      if (spec.deltaFiles.isEmpty) None
      else deltaRelation(spec, s)
        .map(lr => partialAgg(spec, ofPlan(s, lr)))
    if (spec.deltaFiles.nonEmpty && addend.isEmpty) return None
    val unioned = addend.foldLeft(
      current.select(keep.map(col): _*).unionByName(negated))(
      _ unionByName _)
    val merged = mergeAgg(spec, unioned, types)
      .filter(col(spec.cntCol) > 0)
    val sumNames = spec.sumSql.map(_._1).toSet
    val out = merged.select(merged.columns.toSeq.map { c =>
      if (sumNames.contains(c))
        when(col("__nn_" + c) === 0, lit(null)).otherwise(col(c))
          .cast(types(c)).as(c)
      else col(c)
    }: _*)
    Some(out.queryExecution.analyzed)
  }

  /** Join all leaves (one DataFrame each) along the registered edges.
    * Grows the join outward from `start`, applying every edge whose
    * both endpoints are in scope (the edge graph connects all leaves
    * by the registration gate, so this terminates with all tables
    * joined), then re-applies EVERY edge as a filter on top: edges
    * the grow-loop already consumed re-filter as no-ops, and any edge
    * it never used — a cross-branch equality between two tables that
    * each arrived via another edge (the Q5 local-supplier condition)
    * — becomes the predicate the join above missed.
    */
  private def joinLeaves(spec: Spec, dfs: Map[String, DataFrame],
      start: String): Option[DataFrame] = {
    var joined = dfs(start)
    val in = scala.collection.mutable.Set(start)
    val remaining =
      scala.collection.mutable.Set(spec.fpPaths.filterNot(_ == start): _*)
    while (remaining.nonEmpty) {
      val next = remaining.find(p => spec.joinEdges.exists {
        case (pa, _, pb, _) =>
          (in.contains(pa) && p == pb) || (in.contains(pb) && p == pa)
      }).getOrElse(return None) // disconnected: cannot happen post-gate
      val conds = spec.joinEdges.collect {
        case (pa, ca, pb, cb)
            if (in.contains(pa) && next == pb) ||
              (in.contains(pb) && next == pa) =>
          col(ca) === col(cb)
      }
      joined = joined.join(dfs(next), conds.reduce(_ && _))
      in += next
      remaining -= next
    }
    Some(spec.joinEdges.foldLeft(joined) { case (df, (_, ca, _, cb)) =>
      df.filter(col(ca) === col(cb))
    })
  }

  /** Rebuild the joined summary's delta rows — everything the NEW
    * join state contains beyond the BUILT join state — along the
    * registered edges, with appends allowed on ANY number of leaves.
    *
    * The fold is the telescoping inclusion–exclusion: order the
    * appended leaves a₁..a_k canonically (registration order) and sum
    * k join terms, where term i reads leaf a_i at its DELTA files,
    * every earlier appended leaf at its NEW state (built + delta) and
    * everything else at its BUILT state:
    *
    *   Σᵢ New(a₁)⋈…⋈New(a_{i-1}) ⋈ Δ(a_i) ⋈ Built(a_{i+1})⋈…
    *     = New(a₁)⋈…⋈New(a_k)⋈Built(rest) − Built(a₁)⋈…⋈Built(rest)
    *
    * k terms instead of 2^k−1 subsets, each with at least one small
    * delta side (the planner broadcasts it), and each pair of raw
    * rows counted exactly once. Every read is PINNED to an explicit
    * file list from the blessed listing (built files from the spec,
    * delta files from the validated extras; basePath anchored per
    * leaf so Hive-partition columns survive) — a file that lands on
    * any leaf between the listing and execution is invisible to the
    * fold, so it surfaces as the NEXT delta instead of double-
    * counting (the compensated read and refreshDelta cover exactly
    * what the gate verified). Column names must be globally unique
    * across the leaves — same-name columns would make the by-name
    * rebuild ambiguous, so that case fails closed (None), as does a
    * leaf with no built files whose cross terms would all be empty
    * (the true delta is 0 rows; raw scans stay correct).
    */
  private def joinedDelta(spec: Spec,
      s: org.apache.spark.sql.SparkSession): Option[DataFrame] = {
    if (spec.joinEdges.isEmpty) return None
    // all per-leaf maps hold FULL listing entries; readDeltaMemo keys
    // on them and derives the bare paths itself
    val deltaOwners =
      spec.deltaFiles.map(f => ownerPath(spec, entryPath(f)))
    if (deltaOwners.exists(_.isEmpty)) return None
    val deltaByLeaf: Map[String, Seq[String]] =
      spec.deltaFiles.zip(deltaOwners.map(_.get)).groupBy(_._2)
        .map { case (p, fs) => p -> fs.map(_._1) }
    val builtOwners =
      spec.builtFiles.map(f => ownerPath(spec, entryPath(f)))
    if (builtOwners.exists(_.isEmpty)) return None
    val builtByLeaf: Map[String, Seq[String]] =
      spec.builtFiles.zip(builtOwners.map(_.get)).groupBy(_._2)
        .map { case (p, fs) => p -> fs.map(_._1) }
    val appended = spec.fpPaths.filter(deltaByLeaf.contains)
    if (appended.isEmpty) return None
    // pinned per-leaf frames, memoized per (leaf, file set) — the
    // optimizer fires this rule several times per query, and an
    // unmemoized explicit-file read would pay listing + footer
    // inference on every firing
    val deltaDf = deltaByLeaf.map { case (p, fs) =>
      p -> readDeltaMemo(s, p, fs) }
    val builtDf = builtByLeaf.map { case (p, fs) =>
      p -> readDeltaMemo(s, p, fs) }
    val newDf = spec.fpPaths.flatMap { p =>
      val fs = builtByLeaf.getOrElse(p, Nil) ++ deltaByLeaf.getOrElse(p, Nil)
      if (fs.isEmpty) None else Some(p -> readDeltaMemo(s, p, fs))
    }.toMap
    if (!spec.fpPaths.forall(newDf.contains)) return None
    val allCols = spec.fpPaths.flatMap(p => newDf(p).columns)
    if (allCols.distinct.length != allCols.length) return None
    val terms = appended.zipWithIndex.flatMap { case (ai, i) =>
      val sides = spec.fpPaths.map { p =>
        p -> (if (p == ai) Some(deltaDf(p))
              else if (appended.indexOf(p) >= 0 && appended.indexOf(p) < i)
                Some(newDf(p))
              else builtDf.get(p))
      }
      // a zero-file side makes the whole term empty: skip it
      if (sides.exists(_._2.isEmpty)) None
      else joinLeaves(spec,
        sides.map { case (p, d) => p -> d.get }.toMap, ai)
    }
    if (terms.isEmpty) None
    else Some(terms.reduce(_ unionByName _))
  }

  /** COMPACTION-aware re-blessing: verify that an in-place rewrite of
    * the source (the shape [[graft.operators.Layout.compact]] and
    * every table format's OPTIMIZE produce nightly) was CONTENT-
    * PRESERVING, and if so re-record the fingerprint WITHOUT
    * rebuilding the summary. The freshness gate cannot distinguish a
    * small-files compaction from real drift — any rewrite suspends
    * routing — and at 100 TB an MV rebuild is the most expensive
    * operation in the warehouse, so "OPTIMIZE ran" must not cost one.
    *
    * The verification is the summary's own algebra: re-aggregate the
    * CURRENT source at the registered grain/measures and compare the
    * result SET against the stored summary (grain rows are unique per
    * side, so two symmetric EXCEPTs decide equality). Equal ⇒ the
    * rewrite preserved content at summary resolution — bless the new
    * listing, routing resumes, generation and files untouched. Not
    * equal ⇒ refuse (return false) and leave the suspension standing:
    * a real data change needs refresh/re-create. Cost: one source
    * scan + aggregate — the build's read half, with no write
    * amplification and no routing gap (the old summary keeps serving
    * the moment verification passes, vs. a rebuild's drop/recreate
    * window).
    *
    * Fail-closed notes: double-typed sum measures may re-add in a
    * different order and spuriously refuse (declare decimal sums, as
    * the routing contract already requires for value-exactness);
    * append-only drift also refuses (the fresh aggregate contains the
    * appended rows) — [[refreshDelta]] is the right tool there.
    * Returns true when already fresh (idempotent no-op).
    */
  def rebless(name: String): Boolean = {
    val spec = lookupByName(name).getOrElse(
      throw new IllegalArgumentException(s"no summary named $name"))
    val s = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession"))
    // one direct listing (no memo): what we verify is what we bless
    val entries = listEntries(spec.fpPaths,
      s.sparkContext.hadoopConfiguration)
    val fp = fpOf(entries)
    if (fp == spec.sourceFp) {
      touchFpMemo(spec.fpPaths, fp, entries)
      return true
    }
    if (entries.exists(_.startsWith("absent:"))) return false
    val src: DataFrame =
      if (spec.fpPaths.length == 1) s.read.parquet(spec.fpPaths.head)
      else {
        val dfs = spec.fpPaths.map(p => p -> s.read.parquet(p)).toMap
        joinLeaves(spec, dfs, spec.fpPaths.head).getOrElse(return false)
      }
    val hconf = s.sparkContext.hadoopConfiguration
    // same build expressions ⇒ same schema; align column order and
    // compare as sets. The verification runs with the ROUTER
    // BYPASSED: the reference aggregate must come from the raw
    // files, never from a substrate built out of the very summary
    // being verified (a verifier must not trust the machinery it
    // verifies).
    val stored = s.read.parquet(spec.summaryPath)
    val cols = stored.columns.toSeq
    def sameSets(freshAgg: DataFrame): Boolean = {
      val a = stored.select(cols.map(col): _*)
      val b = freshAgg.select(cols.map(col): _*)
      SummaryRewrite.withBypass {
        try a.except(b).isEmpty && b.except(a).isEmpty
        catch { case scala.util.control.NonFatal(_) => false }
      }
    }
    def bless(b0: Spec, expect: Int): Boolean = {
      // the generation retired by the PREVIOUS fold lapses here,
      // exactly like register() — still-referenced paths, dirs THIS
      // bless newly retires (b0.retired — the displaced cube), and
      // grace-spared dirs survive (the latter carried forward in the
      // blessed spec's retired list). b0.retired must hold only what
      // this bless retires, never spec.retired verbatim: passing the
      // previous fold's list through would put it in its own
      // keep-set and nothing would ever lapse on a rebless-only
      // workload (unbounded footprint).
      val (lapsing, spared) = splitLapse(s,
        spec.retired.filterNot(b0.retired.contains),
        Set(b0.summaryPath, b0.fileCubePath) ++ b0.retired)
      val b = b0.copy(retired = (b0.retired ++ spared).distinct)
      persistSpec(b, expectGen = Some(expect))
      reg.put(regKey(b.source, b.name), b)
      lapsing.foreach(deleteDir(_, hconf))
      touchFpMemo(spec.fpPaths, fp, entries)
      true
    }
    if (spec.fpPaths.length > 1 || spec.fileCubePath.isEmpty) {
      // no sidecar to carry (joined source, or the summary never had
      // one): verify against the direct re-aggregate and re-record.
      // This bless retires nothing new (retired = Nil) — the
      // PREVIOUS fold's retired dirs go through the lapse/grace
      // split like any other fold
      if (!sameSets(partialAgg(spec, src))) return false
      bless(spec.copy(sourceFp = fp, builtFiles = entries,
        retired = Nil), spec.gen)
    } else {
      // the sidecar is keyed by the OLD file identities the
      // compaction just destroyed — but rebless is already paying a
      // full source scan to verify, so REBUILD the per-file cube in
      // that same pass (one scan feeds both the fresh aggregate and
      // the new sidecar) instead of silently downgrading delete
      // compensation to suspend-on-delete until the next create()
      val cube = partialAggWithFile(spec, src)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val types = cube.schema.map(f => f.name -> f.dataType).toMap
        if (!sameSets(mergeAgg(spec, cube.drop(FileCol), types)))
          return false
        // generation number stays (no summary rewrite happened); the
        // path carries the new fingerprint so retention of the old
        // cube and repeated reblesses never collide
        val cubePath = newGenDir(spec.name, spec.gen,
          s"_files_${fp.take(8)}")
        val invert = Seq(FileCol) ++ spec.grain ++ Seq(spec.cntCol) ++
          spec.sumSql.map(_._1) ++ spec.nnSql.map(_._1)
        cube.select(invert.map(col): _*)
          .write.mode("overwrite").parquet(cubePath)
        val cBytes =
          try listEntries(Seq(cubePath), hconf).map(entryLen).sum
          catch { case scala.util.control.NonFatal(_) => -1L }
        // the OLD cube is what this bless displaces: it retires (an
        // in-flight delete-compensated read may be scanning it) and
        // the generation retired one fold ago lapses in bless()
        val blessed = spec.copy(sourceFp = fp, builtFiles = entries,
          fileCubePath = cubePath, cubeBytes = cBytes,
          retired = Seq(spec.fileCubePath)
            .filter(p => p.nonEmpty && p != cubePath))
        try bless(blessed, spec.gen)
        catch { case t: Throwable => deleteDir(cubePath, hconf); throw t }
      } finally cube.unpersist()
    }
  }

  def refresh(name: String, batch: DataFrame,
      complete: Boolean = false,
      coveredEntries: Option[Seq[String]] = None): Spec = {
    val spec = lookupByName(name).getOrElse(
      throw new IllegalArgumentException(s"no summary named $name"))
    val spark = batch.sparkSession
    val batchSum = partialAgg(spec, batch)
    val current = spark.read.parquet(spec.summaryPath)
    val types = current.schema.map(f => f.name -> f.dataType).toMap
    val merged = mergeAgg(spec, current.unionByName(batchSum), types)
    // SUSPEND routing while the merge materializes: a batch that
    // derives from the registered source (the common backfill shape)
    // would otherwise have its OWN grain aggregate routed onto the
    // stale summary being refreshed — silently dropping the batch.
    // While suspended, queries over the source run raw (correct,
    // just unrouted) — the standard MV-refresh window.
    reg.remove(regKey(spec.source, spec.name))
    var writtenCube = "" // cleaned up if the fold fails after writing
    try {
      // completion is EXPLICIT: only `complete = true` (the caller
      // affirming this batch brings the summary up to the full
      // source) flips a partial build routable — the default keeps a
      // partial build unroutable, so a multi-batch backfill that
      // forgets the flag fails SAFE (queries run raw) instead of
      // routing subset answers. Routability never regresses —
      // folding additions into a complete summary keeps it complete.
      // the refresh RE-FINGERPRINTS the source: folding the delta is
      // the caller's claim that the summary now reflects the files on
      // disk, so a staleness suspension lifts here (and only here, or
      // at a full re-create). The freshness memo takes the same new
      // fingerprint — a TTL-cached pre-refresh listing must never
      // suspend the summary this refresh just brought up to date.
      // [[refreshDelta]] passes the LISTING ITS BATCH ACTUALLY COVERS:
      // recording a fresh re-list here instead would bless files that
      // appeared between detection and fold without folding them —
      // with the covered listing, late arrivals surface as the next
      // delta and stay compensated/foldable rather than silently lost
      val newEntries = coveredEntries.getOrElse(listEntries(spec.fpPaths,
        spark.sparkContext.hadoopConfiguration))
      val newFp = fpOf(newEntries)
      touchFpMemo(spec.fpPaths, newFp, newEntries)
      // cube sidecar maintenance: only a FILE-BACKED batch (the
      // refreshDelta contract — coveredEntries is its signature) can
      // extend the per-file partials truthfully; a caller-supplied
      // in-memory batch has no file identity, so the sidecar is
      // dropped and deletes suspend again until a re-create
      val (newCubePath, newCubeBytes) =
        if (spec.fileCubePath.nonEmpty && spec.fpPaths.length == 1 &&
            coveredEntries.isDefined) {
          val cubePath = newGenDir(spec.name, spec.gen + 1, "_files")
          spark.read.parquet(spec.fileCubePath)
            .unionByName(partialCubeAgg(spec, batch))
            .write.mode("overwrite").parquet(cubePath)
          writtenCube = cubePath
          val b = try listEntries(Seq(cubePath),
            spark.sparkContext.hadoopConfiguration).map(entryLen).sum
          catch { case scala.util.control.NonFatal(_) => -1L }
          (cubePath, b)
        } else ("", -1L)
      // the displaced generation (summary + cube) is handed to
      // register() as the new spec's `retired` list — deleted at the
      // NEXT fold, never now, so in-flight readers planned on it
      // finish (reader-safe refresh)
      register(merged, spec.copy(gen = spec.gen + 1,
        routable = spec.routable || complete,
        sourceFp = newFp,
        builtFiles = newEntries,
        fileCubePath = newCubePath, cubeBytes = newCubeBytes,
        cubeNote =
          if (spec.fileCubePath.nonEmpty && newCubePath.isEmpty)
            "dropped: a generic refresh(batch) carries no file " +
              "identity — deletes suspend until a re-create"
          else spec.cubeNote),
        displaced = Some(spec), expectGen = Some(spec.gen))
    } catch { case t: Throwable =>
      // the freshly-written next-generation cube would otherwise
      // orphan forever (no spec ever references it)
      if (writtenCube.nonEmpty)
        deleteDir(writtenCube, spark.sparkContext.hadoopConfiguration)
      reg.put(regKey(spec.source, spec.name), spec); throw t }
  }

  /** The cube-sidecar partial of a file-backed batch: per
    * (grain, source file), the INVERTIBLE measure legs only.
    */
  private def partialCubeAgg(spec: Spec, batch: DataFrame): DataFrame = {
    val src = if (spec.filterSql.isEmpty) batch
      else batch.filter(expr(spec.filterSql))
    val aggCols =
      spec.sumSql.map { case (n, s) => sum(expr(s)).as(n) } ++
        spec.nnSql.map { case (n, s) => count(expr(s)).as(n) }
    src.groupBy((spec.grain.map(col) :+
        org.apache.spark.sql.functions.input_file_name()
          .as(FileCol)): _*)
      .agg(count(lit(1)).as(spec.cntCol), aggCols: _*)
  }

  /** The one-call refresh: detect the append-only delta the router is
    * currently compensating for and FOLD it — the same file set the
    * compensated read scans becomes [[refresh]]'s batch (re-joined
    * against the other leaves for a joined summary), so the summary
    * catches up to disk and reads return to summary-only. Returns
    * None when there is nothing to fold (already fresh) and throws
    * when the drift is NOT append-only (an in-place mutation needs a
    * re-create — silently folding over it would bake a wrong state).
    * This is the nightly-maintenance call: detect → fold → fresh,
    * no caller-supplied batch to get wrong.
    */
  def refreshDelta(name: String): Option[Spec] = {
    val spec = lookupByName(name).getOrElse(
      throw new IllegalArgumentException(s"no summary named $name"))
    val s = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession"))
    // ONE direct listing (no memo) drives detection, the fold, AND
    // the recorded coverage — no TTL window can slip a file between
    // "what we saw" and "what we blessed"
    val entries = listEntries(spec.fpPaths,
      s.sparkContext.hadoopConfiguration)
    if (fpOf(entries) == spec.sourceFp) return None
    val files = deltaFromEntries(spec, entries).getOrElse {
      // not append-only. A summary whose declared measures are ALL
      // invertible (no min/max/sketch) can still FOLD delete/mixed
      // drift exactly — the same algebra its compensated reads run,
      // materialized once: summary − cube(missing) + Δpartial, and
      // the cube heals the same way. Anything non-invertible keeps
      // refusing: folding would bake nulls into stored extremes.
      val foldable = spec.fpPaths.length == 1 &&
        spec.fileCubePath.nonEmpty &&
        spec.minSql.isEmpty && spec.maxSql.isEmpty &&
        spec.hllSql.isEmpty && spec.kmvSql.isEmpty &&
        spec.qskSql.isEmpty
      val drift =
        if (foldable)
          deletedFromEntries(spec, entries).map((_, Seq.empty[String]))
            .orElse(mixedFromEntries(spec, entries))
        else None
      drift match {
        case Some((missing, extras)) =>
          return Some(foldDestructive(spec, s, entries, missing, extras))
        case None =>
          throw new IllegalStateException(
            s"source of '$name' drifted beyond append-only (a built " +
              "file was rewritten or deleted with non-invertible " +
              "measures declared, or a file landed outside the " +
              "registered leaves) — invertible READS may still be " +
              "compensating through the cube, but this fold needs a " +
              "re-create (rebless instead if the rewrite was a " +
              "content-preserving compaction)")
      }
    }
    val withDelta = spec.copy(deltaFiles = files)
    val batch =
      if (spec.fpPaths.length == 1)
        readDelta(s, spec.fpPaths.head, files.map(entryPath))
      else joinedDelta(withDelta, s).getOrElse(
        throw new IllegalStateException(
          s"cannot rebuild the joined delta for '$name' (ambiguous " +
            "columns or no recorded edges) — re-create the summary"))
    Some(refresh(name, batch, complete = true,
      coveredEntries = Some(entries)))
  }

  /** Materialize delete/mixed compensation as the NEXT GENERATION —
    * the destructive-drift fold for all-invertible specs. Exactly the
    * read-path algebra (`summary − cube(missing) + Δpartial`, phantom
    * grains dropped, sums nullified on zero non-null legs), written
    * once; the cube heals the same way (missing files' rows drop,
    * extras' partials append). Cost is O(summary + cube + extras),
    * never O(source) — retention no longer forces a rebuild on
    * count/sum/avg summaries.
    */
  private def foldDestructive(spec: Spec,
      s: org.apache.spark.sql.SparkSession, entries: Seq[String],
      missing: Seq[String], extras: Seq[String]): Spec = {
    import org.apache.spark.sql.functions.when
    val missingPaths = missing.map(e => canon(entryPath(e)))
    val cube = s.read.parquet(spec.fileCubePath)
    // same decode-normalized membership as the compensated READ —
    // but a fold BAKES its result into the next generation, so a
    // zero-match refuses loudly instead of silently folding stale rows
    val doomedRaw = doomedCubeFiles(spec, s, missingPaths).getOrElse(
      throw new IllegalStateException(
        s"fold of '${spec.name}': a deleted built file matches zero " +
          "cube rows — nothing to subtract for it; re-create the " +
          "summary instead of folding"))
    val doomed = cube.filter(col(FileCol).isin(doomedRaw: _*))
    val current = s.read.parquet(spec.summaryPath)
    val types = current.schema.map(f => f.name -> f.dataType).toMap
    val invert = Seq(spec.cntCol) ++ spec.sumSql.map(_._1) ++
      spec.nnSql.map(_._1)
    val negated = doomed.select(
      (spec.grain.map(col) ++ invert.map(c =>
        (col(c) * lit(-1)).cast(types(c)).as(c))): _*)
    def extrasDf() =
      readDelta(s, spec.fpPaths.head, extras.map(entryPath))
    val addend =
      if (extras.isEmpty) None else Some(partialAgg(spec, extrasDf()))
    val unioned = addend.foldLeft(
      current.select((spec.grain ++ invert).map(col): _*)
        .unionByName(negated))(_ unionByName _)
    val merged0 = mergeAgg(spec, unioned, types)
      .filter(col(spec.cntCol) > 0)
    val sumNames = spec.sumSql.map(_._1).toSet
    val merged = merged0.select(merged0.columns.toSeq.map { c =>
      if (sumNames.contains(c))
        when(col("__nn_" + c) === 0, lit(null)).otherwise(col(c))
          .cast(types(c)).as(c)
      else col(c)
    }: _*)
    val newCubeDf = cube.filter(!col(FileCol).isin(doomedRaw: _*))
      .unionByName(
        if (extras.isEmpty) cube.limit(0)
        else partialCubeAgg(spec, extrasDf()))
    // suspend while materializing, exactly like refresh()
    reg.remove(regKey(spec.source, spec.name))
    var writtenCube = ""
    try {
      val newFp = fpOf(entries)
      touchFpMemo(spec.fpPaths, newFp, entries)
      val cubePath = newGenDir(spec.name, spec.gen + 1, "_files")
      newCubeDf.write.mode("overwrite").parquet(cubePath)
      writtenCube = cubePath
      val cBytes =
        try listEntries(Seq(cubePath),
          s.sparkContext.hadoopConfiguration).map(entryLen).sum
        catch { case scala.util.control.NonFatal(_) => -1L }
      // displaced generation retires (lazy delete) — see refresh()
      register(merged, spec.copy(gen = spec.gen + 1,
        sourceFp = newFp, builtFiles = entries,
        fileCubePath = cubePath, cubeBytes = cBytes),
        displaced = Some(spec), expectGen = Some(spec.gen))
    } catch { case t: Throwable =>
      if (writtenCube.nonEmpty)
        deleteDir(writtenCube, s.sparkContext.hadoopConfiguration)
      reg.put(regKey(spec.source, spec.name), spec); throw t }
  }

  /** Revoke the named summary (the rewrite stops matching instantly;
    * the parquet stays on disk for a later re-register). The persisted
    * spec and the freshness memo go with it — a dropped summary must
    * not resurrect in the next session or linger in the memo.
    */
  def drop(name: String): Unit = {
    val hconf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val it = reg.entrySet().iterator()
    while (it.hasNext) {
      val s = it.next().getValue
      if (s.name == name) {
        fpMemo.remove(memoKey(s.fpPaths))
        // superseded generations are pure garbage once the name is
        // gone (only the CURRENT generation is kept for re-register)
        s.retired.foreach(deleteDir(_, hconf))
        it.remove()
      }
    }
    deltaRelMemo.remove(name)
    cubeFilesMemo.clear()
    pinnedRelMemo.synchronized(pinnedRelMemo.clear())
    specFile(name).delete()
    // a crashed fold's lease must not block the next create
    new java.io.File(specsDir, name + ".lock").delete()
  }

  /** Sweep `graft_summaries/` for generation directories NO persisted
    * or registered spec references — the debris of a crash between a
    * generation write and its persistSpec (the same orphan class as a
    * CTAS interrupted before its catalog entry). Current generations,
    * cube sidecars, and RETIRED directories (still inside their
    * reader-retention window) all count as live. Directories younger
    * than `graceMs` are left alone — they may belong to a fold in
    * flight in another engine. Returns the deleted paths.
    */
  def gcOrphans(graceMs: Long = 0L): Seq[String] = {
    ensureLoaded()
    import scala.jdk.CollectionConverters._
    val hconf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val root = new java.io.File("spark-warehouse/graft_summaries")
    val fromDisk = Option(specsDir.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".json")).toSeq.flatMap { f =>
        try Some(specFromJson(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
        catch { case scala.util.control.NonFatal(_) => None }
      }
    val live = (fromDisk ++ reg.values().asScala.toSeq)
      .flatMap(s => Seq(s.summaryPath, s.fileCubePath) ++ s.retired)
      .filter(p => p != null && p.nonEmpty)
      .map(p => new java.io.File(p).getAbsolutePath).toSet
    val now = System.currentTimeMillis()
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.isDirectory)
      .filterNot(_.getName == "_specs")
      .filterNot(d => live.contains(d.getAbsolutePath))
      .filter(d => graceMs <= 0L || now - d.lastModified() > graceMs)
      .map { d =>
        deleteDir(d.getAbsolutePath, hconf)
        d.getAbsolutePath
      }.toSeq
  }

  /** Full reset (test isolation): registry, freshness memo, AND the
    * persisted spec files — a cleared engine must not resurrect
    * summaries in a later suite or JVM.
    */
  def clear(): Unit = {
    reg.clear()
    fpMemo.clear()
    deltaRelMemo.clear()
    cubeFilesMemo.clear()
    pinnedRelMemo.synchronized(pinnedRelMemo.clear())
    Option(specsDir.listFiles()).getOrElse(Array.empty[java.io.File])
      .foreach(_.delete())
  }
}

/** The optimizer rule: routes qualifying [[Aggregate]]s over a
  * registered source onto its summary. See [[Summaries]] for the
  * qualification and correctness contract. Injected by
  * [[GraftExtensions]]; runs inside the operator-optimization
  * fixed point, so the post-rewrite plan gets the same pruning /
  * pushdown treatment as any hand-written scan of the summary.
  */
object SummaryRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.summaryRewrite.enabled"

  /** Opt-in: serve stock `percentile_approx` from a declared
    * quantile-sketch measure. Default OFF because the substitution
    * changes the approximation algorithm (both answers are
    * approximate, but differently) — see the Surgeon's
    * ApproximatePercentile case for the exact semantics.
    */
  val ApproxPercentileKey = "spark.graft.summaryRewrite.approxPercentile"

  // thread-confined bypass for diagnosis: RoutingExplain re-optimizes
  // a query with routing OFF to see the pre-rewrite aggregate shapes;
  // flipping the session conf for that window would silently plan any
  // CONCURRENT query on the same session unrouted (and two interleaved
  // explain() calls could restore the wrong previous value), so the
  // bypass rides a ThreadLocal instead — the optimizer runs on the
  // thread that forces optimizedPlan, and other threads never see it
  private val bypass = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Run `body` with the rewrite suppressed ON THIS THREAD ONLY. */
  private[plans] def withBypass[A](body: => A): A = {
    val prev = bypass.get()
    bypass.set(java.lang.Boolean.TRUE)
    try body finally bypass.set(prev)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (bypass.get()) return plan
    if (!conf.getConfString(ConfKey, "true").toBoolean) return plan
    // a fresh JVM starts with an empty in-memory registry; persisted
    // specs (the catalog half of the MV contract) lazily reload here
    // — one AtomicBoolean read per rule firing after the first
    Summaries.ensureLoadedForRule()
    if (Summaries.isEmpty) plan
    else plan.transform {
      // fail CLOSED at the rule boundary too: an optimizer rule must
      // never turn "could not route" into a failed query — any
      // unexpected throw from the gate/surgery stack leaves the
      // aggregate on the raw table, the same outcome as every
      // deliberate refusal
      case agg: Aggregate =>
        try rewrite(agg).getOrElse(agg)
        catch { case scala.util.control.NonFatal(_) => agg }
    }
  }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConj(a) ++ splitConj(b)
    case x => Seq(x)
  }

  // ----- the FILTERED-summary subsumption gate -------------------

  /** Does the query's filter set imply the summary's declared WHERE?
    * Checked conjunct-by-conjunct: every summary conjunct must be
    * implied by some query conjunct — by semantic equality, or by
    * contained single-column comparison ranges on the SAME attribute
    * (query `x > 7` implies declared `x > 5`). Conservative and
    * fail-closed: anything unprovable keeps the query on the raw
    * table (correct, just unrouted) — the same posture as every
    * other gate here, because a false "implies" would silently serve
    * a subset answer.
    */
  private[plans] def filterSubsumed(spec: Summaries.Spec,
      filters: Seq[Expression], rawOut: Seq[Attribute]): Boolean =
    spec.filterSql.isEmpty || {
      resolveDeclared(spec.filterSql, rawOut) match {
        case None => false
        case Some(decl) =>
          val qs = filters.flatMap(splitConj)
          splitConj(decl).forall(sc =>
            qs.exists(qc => qc.semanticEquals(sc) ||
              impliesCmp(qc, sc) || impliesInSet(qc, sc)))
      }
    }

  /** Parse the declared WHERE and resolve its attributes BY NAME
    * against the query's own raw output, so semantic comparison runs
    * over the query's exprIds. Ambiguous, qualified, or missing names
    * fail (None → the gate fails closed).
    */
  private[plans] def resolveDeclared(sql: String,
      rawOut: Seq[Attribute]): Option[Expression] =
    try {
      val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(sql)
      var ok = true
      val byName = rawOut.groupBy(_.name)
      val resolved = parsed.transformUp {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if u.nameParts.length == 1 =>
          byName.get(u.nameParts.head) match {
            case Some(Seq(a)) => a
            case _ => ok = false; u
          }
      }
      // the analyzer's type coercion never runs here, so comparisons
      // like `l_quantity > 30` (double attr, int literal) would stay
      // unresolved — coerce the LITERAL side into the other side's
      // type, but only when the value round-trips exactly (litIn):
      // a lossy coercion would silently move the declared boundary
      val coerced = resolved.transformUp {
        case bc: BinaryComparison
            if bc.left.resolved && bc.right.resolved &&
              bc.left.dataType != bc.right.dataType =>
          (bc.left, bc.right) match {
            case (l: Literal, r) => litIn(l, r.dataType)
              .map(v => bc.withNewChildren(
                Seq(Literal.create(v, r.dataType), r)))
              .getOrElse(bc)
            case (l, r: Literal) => litIn(r, l.dataType)
              .map(v => bc.withNewChildren(
                Seq(l, Literal.create(v, l.dataType))))
              .getOrElse(bc)
            case _ => bc
          }
      }
      if (ok && coerced.resolved) Some(coerced) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One comparison conjunct, normalized to the attribute's own type:
    * ops are '>' / 'G' (≥) / '<' / 'L' (≤) / '='. */
  private final case class Cmp(id: ExprId,
      dt: org.apache.spark.sql.types.DataType, op: Char, v: Any)

  /** A literal's value carried into `dt` — only when the conversion
    * ROUND-TRIPS exactly (cast there and back reproduces the original
    * value). A lossy conversion (25.7 → int 25) would silently widen
    * the declared range and break soundness, so it fails instead.
    */
  private def litIn(l: Literal,
      dt: org.apache.spark.sql.types.DataType): Option[Any] =
    if (l.value == null) None
    else if (l.dataType == dt) Some(l.value)
    else try {
      val zone = Some(conf.sessionLocalTimeZone)
      val there = Cast(l, dt, zone)
      if (!there.resolved) return None
      val v = there.eval(null)
      if (v == null) return None
      val back = Cast(Literal.create(v, dt), l.dataType, zone)
      if (back.resolved && back.eval(null) == l.value) Some(v) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  private def asCmp(e: Expression): Option[Cmp] = {
    def mk(a: AttributeReference, op: Char, l: Literal) =
      litIn(l, a.dataType).map(v => Cmp(a.exprId, a.dataType, op, v))
    e match {
      case GreaterThan(a: AttributeReference, l: Literal) => mk(a, '>', l)
      case GreaterThan(l: Literal, a: AttributeReference) => mk(a, '<', l)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        mk(a, 'G', l)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        mk(a, 'L', l)
      case LessThan(a: AttributeReference, l: Literal) => mk(a, '<', l)
      case LessThan(l: Literal, a: AttributeReference) => mk(a, '>', l)
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        mk(a, 'L', l)
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        mk(a, 'G', l)
      case EqualTo(a: AttributeReference, l: Literal) => mk(a, '=', l)
      case EqualTo(l: Literal, a: AttributeReference) => mk(a, '=', l)
      case _ => None
    }
  }

  /** Total order over same-type comparison values (the handful of
    * atomic types the gate supports); None = unsupported type. */
  private def cmpValues(dt: org.apache.spark.sql.types.DataType,
      a: Any, b: Any): Option[Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType =>
        Some(java.lang.Long.compare(a.asInstanceOf[Number].longValue(),
          b.asInstanceOf[Number].longValue()))
      case FloatType | DoubleType =>
        Some(java.lang.Double.compare(a.asInstanceOf[Number].doubleValue(),
          b.asInstanceOf[Number].doubleValue()))
      case _: DecimalType =>
        Some(a.asInstanceOf[Decimal].compare(b.asInstanceOf[Decimal]))
      case StringType =>
        Some(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]))
      case BooleanType =>
        Some(java.lang.Boolean.compare(a.asInstanceOf[Boolean],
          b.asInstanceOf[Boolean]))
      case _ => None
    }
  }

  /** A membership conjunct normalized to (attr, values in the attr's
    * type): the parsed declaration yields `In` over literals; the
    * optimizer may have turned the query's list into `InSet` (whose
    * values are already internal, attr-typed). */
  private def litSet(e: Expression)
      : Option[(ExprId, org.apache.spark.sql.types.DataType, Seq[Any])] =
    e match {
      case In(a: AttributeReference, ls)
          if ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
        val vs = ls.map(l => litIn(l.asInstanceOf[Literal], a.dataType))
        if (vs.forall(_.isDefined))
          Some((a.exprId, a.dataType, vs.map(_.get)))
        else None
      case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
        // an optimized IN-list that contained NULL keeps it in the
        // hset — drop it here: `x IN (…, NULL)` never evaluates TRUE
        // for the null member (it yields NULL, filtered out), so as a
        // FILTER the membership set is the non-null values, and a
        // null reaching cmpValues would NPE inside the optimizer
        Some((a.exprId, a.dataType, hset.toSeq.filter(_ != null)))
      case _ => None
    }

  /** Set containment on the same attribute: query `x IN (subset)` or
    * `x = v` implies declared `x IN (superset)`. */
  private def impliesInSet(qe: Expression, se: Expression): Boolean =
    litSet(se) match {
      case Some((sid, sdt, svs)) =>
        def member(v: Any): Boolean =
          svs.exists(sv => cmpValues(sdt, v, sv).contains(0))
        litSet(qe) match {
          case Some((qid, qdt, qvs)) if qid == sid && qdt == sdt =>
            qvs.forall(member)
          case _ => asCmp(qe) match {
            case Some(q) if q.id == sid && q.dt == sdt && q.op == '=' =>
              member(q.v)
            case _ => false
          }
        }
      case None => false
    }

  /** Range containment between two normalized comparisons on the
    * same attribute: does `q` imply `s`? */
  private def impliesCmp(qe: Expression, se: Expression): Boolean =
    (asCmp(qe), asCmp(se)) match {
      case (Some(q), Some(s)) if q.id == s.id && q.dt == s.dt =>
        cmpValues(q.dt, q.v, s.v) match {
          case Some(c) =>
            s.op match {
              case '>' => (q.op == '>' && c >= 0) ||
                ((q.op == 'G' || q.op == '=') && c > 0)
              case 'G' => (q.op == '>' || q.op == 'G' || q.op == '=') &&
                c >= 0
              case '<' => (q.op == '<' && c <= 0) ||
                ((q.op == 'L' || q.op == '=') && c < 0)
              case 'L' => (q.op == '<' || q.op == 'L' || q.op == '=') &&
                c <= 0
              case '=' => q.op == '=' && c == 0
              case _ => false
            }
          case None => false
        }
      case _ => false
    }

  /** Flatten an optimizer-shaped INNER join tree: bare leaves (their
    * canonical path + scan), every pushed-down or mid-tree filter
    * (hoisted back above the join — filter-then-join ≡
    * join-then-filter for INNER, so they re-enter the grain gate like
    * top-level filters), and every join-condition conjunct. Attr-only
    * projects between joins (column pruning's shape) unwrap; an
    * aliased projection means a derived input — no route.
    */
  private[plans] def collectJoinTree(p: LogicalPlan): Option[(
      Seq[(String, LogicalRelation)], Seq[Expression], Seq[Expression])] =
    p match {
      case PhysicalOperation(projects, filters, lr: LogicalRelation)
          if projects.forall(_.isInstanceOf[AttributeReference]) =>
        Summaries.pathOf(lr).map(path => (Seq((path, lr)), Nil, filters))
      case PhysicalOperation(projects, filters,
          j: org.apache.spark.sql.catalyst.plans.logical.Join)
          if projects.forall(_.isInstanceOf[AttributeReference]) &&
            j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
            j.condition.isDefined =>
        for {
          (ll, cl, fl) <- collectJoinTree(j.left)
          (lr2, cr, fr) <- collectJoinTree(j.right)
        } yield (ll ++ lr2, cl ++ cr ++ splitConj(j.condition.get),
          fl ++ fr ++ filters)
      case _ => None
    }

  /** The attrs whose NAME is duplicated across join leaves WITHOUT
    * the join's own equalities equating every bearer. Registration
    * rejects ambiguous grain/measure declarations outright (Spark's
    * ambiguous-reference analysis), but a QUERY can still reference
    * one bearer explicitly — and the rewrite's name-keyed
    * grain/measure mapping could then silently serve the OTHER
    * table's column. Any rewritten expression touching one of these
    * attrs must fail closed to the raw plan. Join-equated bearers are
    * exempt: equal values on every surviving inner-join row, so
    * either mapping is correct.
    */
  private[plans] def unsafeDupAttrs(rawOut: Seq[Attribute],
      conds: Seq[Expression]): AttributeSet = {
    val dups = rawOut.groupBy(_.name).values.filter(_.length > 1).toSeq
    if (dups.isEmpty) AttributeSet.empty
    else {
      val parent = scala.collection.mutable.Map.empty[ExprId, ExprId]
      def find(x: ExprId): ExprId = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      conds.foreach {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          parent(find(a.exprId)) = find(b.exprId)
        case _ =>
      }
      AttributeSet(dups.filter(as =>
        as.map(a => find(a.exprId)).distinct.length > 1).flatten)
    }
  }

  /** Diagnosis hook: the rewrite verdict for one Aggregate, exactly
    * as [[apply]] would compute it (RoutingExplain uses this to
    * separate "routes" from "needs a reason").
    */
  private[plans] def tryRewrite(agg: Aggregate): Option[Aggregate] =
    rewrite(agg)

  private[plans] def splitConjuncts(e: Expression): Seq[Expression] =
    splitConj(e)

  private def rewrite(agg: Aggregate): Option[Aggregate] = agg.child match {
    case PhysicalOperation(projects, filters0,
        ex: org.apache.spark.sql.catalyst.plans.logical.Expand) =>
      // ROLLUP / CUBE / GROUPING SETS lower to Aggregate ← Expand —
      // a dedicated path slides the summary UNDER the Expand
      rewriteRollup(agg, projects, filters0, ex)
    case PhysicalOperation(projects, filters0, child) =>
      // the registry lookup comes FIRST: this rule runs on every
      // Aggregate of every query in the optimizer's fixed point
      // whenever any summary is registered, and the expression
      // surgery below is pure waste for the unregistered ones
      // every candidate on the source, in preference order (filtered
      // slice first, then coarser grain): the FIRST whose gates and
      // surgery succeed serves the query — the warehouse best-match
      val matched: Option[(Seq[Summaries.Spec], Seq[Attribute],
          Seq[Expression], AttributeSet, AttributeSet)] =
        child match {
          case lr: LogicalRelation =>
            Summaries.pathOf(lr).map(path =>
              (Summaries.lookupAll(path), lr.output,
                Nil: Seq[Expression], AttributeSet.empty,
                AttributeSet.empty))
          case j: org.apache.spark.sql.catalyst.plans.logical.Join
              if j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
                j.condition.isDefined =>
            for {
              (leaves, conds, sideFs) <- collectJoinTree(j)
              if leaves.map(_._1).distinct.length == leaves.length
              (edges, keyAttrs) <- Summaries.resolveEdges(conds, leaves)
              rawOut = leaves.flatMap(_._2.output)
            } yield (Summaries.lookupJoinAll(leaves.map(_._1), edges),
              rawOut, sideFs, keyAttrs,
              unsafeDupAttrs(rawOut, conds))
          case _ => None
        }
      matched.filter(_._1.nonEmpty).flatMap { case (specs, rawOut,
          sideFilters, joinKeyAttrs, unsafeDups) =>
        // IS NOT NULL on a join KEY is implied by the registered inner
        // equi-join (every summary row came from a matched, hence
        // non-null, key) — constraint inference manufactures these on
        // both sides of every inner join, and they'd otherwise fail
        // the grain gate below. Dropping them over the summary is a
        // no-op by construction; any OTHER key predicate still
        // disqualifies. Matched by exprId (the attrs collected from
        // the join condition itself), never by name: a nullable
        // non-key column sharing a key's name must keep its filter.
        val impliedByJoin: Expression => Boolean = {
          case IsNotNull(ar: AttributeReference) =>
            joinKeyAttrs.contains(ar)
          case _ => false
        }
        // inline projection aliases (PhysicalOperation returns them
        // already expressed over the relation), so a derived grouping
        // key — groupBy(date_trunc('month', day).as("mo")) puts an
        // Alias in a Project below the Aggregate — participates like
        // any expression over grain columns
        val aliasMap = projects.collect {
          case a: Alias => a.exprId -> a.child
        }.toMap
        val inline = (e: Expression) => e.transformUp {
          case ar: AttributeReference if aliasMap.contains(ar.exprId) =>
            aliasMap(ar.exprId)
        }
        val filters = (filters0 ++ sideFilters)
          .filterNot(impliedByJoin).map(inline)
        val groupings = agg.groupingExpressions.map(inline)
        val aggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
          case ar: AttributeReference if aliasMap.contains(ar.exprId) =>
            Alias(aliasMap(ar.exprId), ar.name)(ar.exprId, ar.qualifier)
          case al: Alias =>
            Alias(inline(al.child), al.name)(al.exprId, al.qualifier)
          case other => other
        }
        // everything the query consumes OUTSIDE aggregate functions
        // must be grain: grouping keys, filter columns. A
        // non-deterministic term (rand() sampling, monotonic ids) has
        // no column references, so the grain guard can't see it — but
        // over the summary it would act per GRAIN ROW, not per raw
        // row: semantics change, so the aggregate stays raw.
        // query-aware ranking: the static preference order re-ranks
        // by selectivity-discounted cost, so a selective query can
        // prefer a larger fresh summary over a smaller compensating
        // one (stable for ties — nothing moves without evidence)
        Summaries.rankBySelectivity(specs, filters)
          .view.flatMap { spec =>
          val grainNames = spec.grain.toSet
          if ((filters ++ groupings)
                .flatMap(_.references)
                .forall(a => grainNames.contains(a.name)) &&
              (filters ++ groupings ++ aggExprs).forall(_.deterministic) &&
              // a reference to a duplicated, non-join-equated name
              // could be served the OTHER table's column by the
              // name-keyed mapping — fail closed to raw
              !(filters ++ groupings ++ aggExprs)
                .flatMap(_.references).exists(unsafeDups.contains) &&
              // a FILTERED summary only serves queries whose own
              // filters imply its declared WHERE
              filterSubsumed(spec, filters, rawOut))
            rewriteOnto(groupings, aggExprs, filters, rawOut, spec)
          else None
        }.headOption
      }
    case _ => None
  }

  /** The expression surgery shared by every routing substrate
    * (single-table, join, rollup/Expand): grain references substitute
    * through `grainSub`, aggregate functions re-express over the
    * summary columns `colFor` serves, and the completeness gate
    * requires every rewritten expression to reference only
    * `allowedOut()` (a thunk — the Expand substrate APPENDS columns
    * on demand while rewriting).
    */
  /** Diagnosis hook: a Surgeon over the spec's own relation (the
    * rewriteOnto setup), so RoutingExplain can test each aggregate
    * expression individually and name the ones that fail.
    */
  private[plans] def surgeonFor(spec: Summaries.Spec,
      rawOut: Seq[Attribute]): Surgeon = {
    val rel = spec.relation.newInstance()
    val byName = rel.output.map(a => a.name -> a).toMap
    val grainByExprId: Map[ExprId, Attribute] = rawOut
      .filter(a => spec.grain.contains(a.name))
      .flatMap(a => byName.get(a.name).map(a.exprId -> _)).toMap
    val sumOut = AttributeSet(rel.output)
    new Surgeon(spec, grainByExprId,
      AttributeSet(spec.grain.flatMap(byName.get)), byName, () => sumOut)
  }

  private[plans] final class Surgeon(spec: Summaries.Spec,
      grainSub: Map[ExprId, Attribute],
      grainAttrs: AttributeSet,
      colFor: String => Attribute,
      allowedOut: () => AttributeSet) {

    // grain-ONLY aggregate inputs: per grain row the input expression
    // is a constant, and `__cnt` says how many raw rows carried it —
    // so a whole family of aggregates routes WITHOUT any declared
    // measure. The summary at a grain that includes the value column
    // IS the counts-route histogram (Percentiles.CountsRoute), built
    // once and reused by every percentile/min/max/count over it.
    private def grainOnly(e: Expression): Boolean =
      e.references.nonEmpty && e.references.subsetOf(grainAttrs) &&
        e.deterministic

    def rewriteAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.isDefined) return None
      def wrap(f: AggregateFunction): Expression =
        AggregateExpression(f, ae.mode, isDistinct = false, None, ae.resultId)
      if (ae.isDistinct) {
        // DISTINCT over grain-only inputs is invariant: the summary
        // carries exactly the raw table's distinct grain tuples, so
        // the distinct value set of any expression over them is
        // preserved verbatim. Only exact set-functions qualify.
        return ae.aggregateFunction match {
          case f @ (_: Count | _: Sum | _: Min | _: Max)
              if f.children.forall(grainOnly) => Some(ae)
          case _ => None
        }
      }
      ae.aggregateFunction match {
        // the literal must be NON-NULL: count(null) is 0 per row,
        // not the row count
        case Count(Seq(l: Literal)) if l.value != null =>
          Some(Coalesce(Seq(wrap(Sum(colFor(spec.cntCol))), Literal(0L))))
        // count(e1, e2, …) counts rows where every ei is non-null:
        // per grain row that predicate is constant, so it gates the
        // row's count
        case Count(cs) if cs.nonEmpty && cs.forall(grainOnly) =>
          Some(Coalesce(Seq(wrap(Sum(If(
            cs.map(IsNotNull(_): Expression).reduce(And),
            colFor(spec.cntCol), Literal(0L)))), Literal(0L))))
        case s: Sum =>
          Summaries.measureKey(s.child)
            .flatMap(spec.sums.get).map(c => wrap(Sum(colFor(c))))
            .orElse {
              // integral grain sum: value × count is EXACT long
              // arithmetic (floating/decimal stay measure-declared —
              // repeated addition and multiplication round
              // differently there)
              if (grainOnly(s.child) && (s.child.dataType match {
                  case org.apache.spark.sql.types.ByteType |
                       org.apache.spark.sql.types.ShortType |
                       org.apache.spark.sql.types.IntegerType |
                       org.apache.spark.sql.types.LongType => true
                  case _ => false
                }))
                Some(wrap(Sum(Multiply(
                  Cast(s.child, org.apache.spark.sql.types.LongType),
                  colFor(spec.cntCol)))))
              else None
            }
        case m: Min =>
          Summaries.measureKey(m.child)
            .flatMap(spec.mins.get).map(c => wrap(Min(colFor(c))))
            .orElse(if (grainOnly(m.child)) Some(wrap(m)) else None)
        case m: Max =>
          Summaries.measureKey(m.child)
            .flatMap(spec.maxs.get).map(c => wrap(Max(colFor(c))))
            .orElse(if (grainOnly(m.child)) Some(wrap(m)) else None)
        // EXACT percentile through the histogram: the stored per-grain
        // count becomes the frequency argument — Spark's Percentile
        // with integral frequency walks the identical sorted
        // (value, weight) sequence the raw rows would produce
        case p: Percentile if grainOnly(p.child) &&
            (p.frequencyExpression match {
              case l: Literal => l.value == 1L || l.value == 1
              case _ => false
            }) =>
          Some(wrap(p.copy(frequencyExpression = colFor(spec.cntCol))))
        // approximate distinct: the sketch aggregate of a canonical
        // hll_distinct (and, with the approxDistinct rewrite on,
        // COUNT(DISTINCT x) through it) becomes hll_union_agg over
        // the stored per-grain sketches; under the canonical
        // finalizer the estimate is the raw one EXACTLY, provided
        // the precision matches the stored sketches. rewriteExpr
        // keeps a bare hll_sketch_agg off this route.
        case HllFunctions.Sketch(x, p) if p == spec.hllPrecision =>
          Summaries.measureKey(x).flatMap(spec.hlls.get)
            .map(c => wrap(new HllUnionAgg(colFor(c))))
        // AVG via its exact legs: SUM(sum_m) / SUM(__nn_m), spliced
        // into the query's OWN Average.evaluateExpression (its sum /
        // count buffer attrs swapped for the re-aggregated summary
        // legs), so the division arithmetic, overflow handling, result
        // type, and eval mode are Spark's by construction. The sum leg
        // casts back to Average's internal sumDataType — same scale,
        // value fits by construction (the raw buffer held it), so the
        // cast never rounds. Decimal measures only: double/integral
        // averages re-sum order-dependently.
        case a: Average
            if a.child.dataType
              .isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
          val key = Summaries.measureKey(a.child)
          for {
            c <- key.flatMap(spec.sums.get)
            nn <- key.flatMap(spec.nns.get)
          } yield {
            val sumLeg = Cast(AggregateExpression(Sum(colFor(c)),
              ae.mode, isDistinct = false, None, ae.resultId),
              a.sumDataType)
            val cntLeg = AggregateExpression(Sum(colFor(nn)), ae.mode,
              isDistinct = false, None, NamedExpression.newExprId)
            a.evaluateExpression.transformUp {
              case ar: AttributeReference if ar.exprId == a.sum.exprId =>
                sumLeg
              case ar: AttributeReference if ar.exprId == a.count.exprId =>
                cntLeg
            }
          }
        // exact variance/stddev via the sumsq leg: the raw aggregate
        // keeps (n, Σx, Σx²) in unbounded decimals, so re-building the
        // same buffer from the stored per-grain Σx (sum measure),
        // Σx² (the DECLARED sumsq twin — keyed as the measure's
        // self-product) and non-null count is bit-identical (decimal
        // addition associates). Spark's own double Welford stddev/var
        // never routes — its low bits are partition-order dependent,
        // so no summary arithmetic can reproduce them (fail closed).
        case em: graft.functions.ExactMomentsAgg =>
          val key = Summaries.measureKey(em.child)
          for {
            s <- key.flatMap(spec.sums.get)
            q <- key.map(k => s"($k * $k)").flatMap(spec.sums.get)
            nn <- key.flatMap(spec.nns.get)
          } yield wrap(graft.functions.ExactMomentsMerge(
            colFor(s), colFor(q), colFor(nn), em.ddof, em.asStddev))
        // KMV: bottom-k is a mergeable summary (the k smallest over a
        // union lie in the union of per-part k smallest), so the
        // routed estimate equals the raw one EXACTLY — and, the hash
        // being engine-portable, a DuckDB replay of the raw table
        // hash-checks the routed answer (q174)
        case kn: graft.functions.KmvNdv
            if kn.k == spec.kmvK && kn.domain == spec.kmvDomain =>
          Summaries.measureKey(kn.child).flatMap(spec.kmvs.get)
            .map(c => wrap(
              graft.functions.KmvUnion(colFor(c), kn.k, kn.domain)))
        // bottom-k quantile sketch: pair-set union + re-truncation is
        // LOSSLESS (the k smallest pairs of the union lie in the
        // union of per-grain k smallest), so the routed nearest-rank
        // estimate equals the raw-scan one EXACTLY — approximate vs
        // the true quantile, exact vs the sketch contract — at ANY
        // requested p, and the portable hash keeps it SQL-replayable.
        // This is what lets percentile dashboards route on grains
        // that do NOT carry the value column (where q179's histogram
        // grain would explode on a near-unique domain).
        case qq: graft.functions.QskQuantile if qq.k == spec.qskK =>
          (for {
            a <- Summaries.measureKey(qq.left)
            b <- Summaries.measureKey(qq.right)
          } yield a + "§" + b).flatMap(spec.qsks.get)
            .map(c => wrap(
              graft.functions.QskUnion(colFor(c), qq.k, qq.p)))
        // OPT-IN substitution: Spark's stock percentile_approx served
        // from a declared quantile-sketch measure whose VALUE
        // expression matches the query's. Unlike every other route
        // here the answer is NOT bit-identical to the unrouted plan —
        // both are approximations, but of different algorithms (GK
        // summary at `accuracy` vs bottom-k nearest-rank at the
        // declared k) — so it only fires under an explicit conf and
        // the accuracy argument is superseded by the stored sketch's
        // k (the documented substitution semantics). The routed value
        // IS deterministic and equals quantile_sketch_est over the
        // raw rows (pair-set union is lossless).
        case ap: org.apache.spark.sql.catalyst.expressions.aggregate
              .ApproximatePercentile
            if conf.getConfString(ApproxPercentileKey, "false")
              .toBoolean =>
          val pOpt = ap.percentageExpression match {
            case Literal(d: Double, org.apache.spark.sql.types
                .DoubleType) if d > 0.0 && d <= 1.0 => Some(d)
            case _ => None // array form / exotic types: fail closed
          }
          for {
            p <- pOpt
            vKey <- Summaries.measureKey(ap.child)
            // any declared sketch on this value expression serves;
            // ties break by column name for determinism
            c <- spec.qsks.collect {
              case (k, col) if k.split("§", 2).lift(1).contains(vKey) =>
                col
            }.toSeq.sorted.headOption
          } yield wrap(graft.functions.QskUnion(colFor(c), spec.qskK, p))
        case _ => None
      }
    }

    def rewriteExpr(e: Expression): Option[Expression] = {
      // a bare hll_sketch_agg answers with the sketch itself, whose
      // bytes a union of stored sketches does not reproduce: only a
      // canonical hll_distinct's sketch routes
      val canonical = e.collect { case HllFunctions.Distinct(ae, _, _) => ae }
      if (e.collect {
          case ae @ AggregateExpression(_: HllSketchAgg, _, _, _, _) => ae
        }.exists(!canonical.contains(_))) return None
      var ok = true
      val out = e.transformUp {
        case ar: AttributeReference if grainSub.contains(ar.exprId) =>
          grainSub(ar.exprId)
        case ae: AggregateExpression =>
          rewriteAgg(ae) match {
            case Some(x) => x
            case None => ok = false; ae
          }
      }
      // completeness gate: every raw-side reference must be gone —
      // a leftover means an unmapped shape, so the whole aggregate
      // stays on the raw table
      if (ok && out.references.subsetOf(allowedOut())) Some(out) else None
    }

    def rewriteNamed(ne: NamedExpression): Option[NamedExpression] =
      ne match {
        case ar: AttributeReference if grainSub.contains(ar.exprId) =>
          Some(Alias(grainSub(ar.exprId), ar.name)(ar.exprId, ar.qualifier))
        case ar: AttributeReference
            if ar.references.subsetOf(allowedOut()) =>
          // identity substrate (Expand): the attribute survives as-is
          Some(ar)
        case al: Alias =>
          rewriteExpr(al.child).map { c0 =>
            // re-aggregated decimals widen; the alias boundary casts
            // back so the output schema is indistinguishable
            val c = if (c0.dataType == al.child.dataType) c0
              else Cast(c0, al.child.dataType)
            Alias(c, al.name)(al.exprId, al.qualifier)
          }
        case _ => None
      }
  }

  private def rewriteOnto(groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], filters: Seq[Expression],
      rawOut: Seq[Attribute], spec: Summaries.Spec): Option[Aggregate] = {
    // fresh attr instances per rewrite site — two rewrites must never
    // share exprIds. A delta- or delete-bearing spec swaps in the
    // compensated substrate (merge of summary + appended-files
    // partial, or minus deleted-files cube partials) — same output
    // names/types, built with fresh exprIds per call.
    val sub: LogicalPlan =
      if (spec.deltaFiles.isEmpty && spec.deletedFiles.isEmpty)
        spec.relation.newInstance()
      else Summaries.compensatedPlan(spec).getOrElse(return None)
    val byName = sub.output.map(a => a.name -> a).toMap
    val grainByExprId: Map[ExprId, Attribute] = rawOut
      .filter(a => spec.grain.contains(a.name))
      .flatMap(a => byName.get(a.name).map(a.exprId -> _)).toMap
    val sumOut = AttributeSet(sub.output)
    val surgeon = new Surgeon(spec, grainByExprId,
      AttributeSet(spec.grain.flatMap(byName.get)), byName, () => sumOut)
    val newGrouping = groupings.map(surgeon.rewriteExpr)
    val newAggs = aggExprs.map(surgeon.rewriteNamed)
    val newFilters = filters.map(surgeon.rewriteExpr)
    if ((newGrouping ++ newAggs ++ newFilters).forall(_.isDefined)) {
      val child = newFilters.map(_.get)
        .foldRight(sub)((c, p) => Filter(c, p))
      Some(Aggregate(newGrouping.map(_.get), newAggs.map(_.get), child))
    } else None
  }

  /** ROLLUP / CUBE / GROUPING SETS routing: Spark lowers them to
    * `Aggregate ← Expand ← scan`, and the summary slides UNDER the
    * Expand — each projection row re-expresses over the summary's
    * grain columns while the stored `count(*)` (and any declared
    * measure columns the aggregates need) flow through as APPENDED
    * expand columns, so every grouping set re-aggregates
    * cnt-weighted exactly like a plain rollup over the raw rows.
    * Gates, beyond the usual grain discipline:
    *
    *  - every Expand position must be a constant relation attribute
    *    (PASS), that attribute alternating with NULL (VARY — the
    *    grouping-set dimensions), or literals only (the
    *    spark_grouping_id);
    *  - with >1 grouping set the aggregate must group directly on a
    *    literal column distinguishing every set (the grouping id) —
    *    otherwise sets would merge and cnt-weighting double-counts;
    *  - a non-grain PASS column may feed declared-measure aggregates
    *    only (its position nulls out over the summary), never
    *    groupings or filters.
    */
  private def rewriteRollup(agg: Aggregate,
      projects: Seq[NamedExpression], filters0: Seq[Expression],
      expand: org.apache.spark.sql.catalyst.plans.logical.Expand)
      : Option[Aggregate] = {
    val (lr, childFilters) = expand.child match {
      case PhysicalOperation(ps, fs, r: LogicalRelation)
          if ps.forall(_.isInstanceOf[AttributeReference]) => (r, fs)
      case _ => return None
    }
    val candidates = Summaries.pathOf(lr).toSeq
      .flatMap(Summaries.lookupAll)
    if (candidates.isEmpty) return None
    val nOut = expand.output.size
    if (expand.projections.isEmpty ||
        expand.projections.exists(_.size != nOut)) return None

    // classify each output position across the projection rows
    final case class Pos(attr: Option[AttributeReference], allLit: Boolean)
    val pos = new Array[Pos](nOut)
    var i = 0
    while (i < nOut) {
      val es = expand.projections.map(_(i))
      val attrs = es.collect { case a: AttributeReference => a }
      val lits = es.collect { case l: Literal => l }
      if (attrs.length + lits.length != es.length) return None
      if (attrs.isEmpty) pos(i) = Pos(None, allLit = true)
      else if (attrs.distinct.length == 1 && lits.forall(_.value == null))
        pos(i) = Pos(Some(attrs.head), allLit = false)
      else return None
      i += 1
    }

    // multi-set distinguishability (the grouping-id gate)
    if (expand.projections.length > 1) {
      val ok = (0 until nOut).exists { j =>
        pos(j).allLit &&
          expand.projections.map(_(j) match {
            case l: Literal => l.value
            case _ => null
          }).distinct.length == expand.projections.length &&
          agg.groupingExpressions.exists {
            case ar: AttributeReference =>
              ar.exprId == expand.output(j).exprId
            case _ => false
          }
      }
      if (!ok) return None
    }

    // spec-dependent half: try each candidate in preference order,
    // first success serves the rollup
    def trySpec(spec: Summaries.Spec): Option[Aggregate] = {
    // a FILTERED summary serves a rollup only when the below-Expand
    // filters (the pushed-down WHERE) imply its declaration
    if (!filterSubsumed(spec, childFilters, lr.output)) return None
    val grainNames = spec.grain.toSet
    val preservedIdx = (0 until nOut).filter { j =>
      pos(j).allLit || pos(j).attr.exists(a => grainNames.contains(a.name))
    }
    val preservedOut = AttributeSet(preservedIdx.map(expand.output))
    val grainOutAttrs = AttributeSet((0 until nOut).collect {
      case j if pos(j).attr.exists(a => grainNames.contains(a.name)) =>
        expand.output(j)
    })

    val aliasMap = projects.collect {
      case a: Alias => a.exprId -> a.child
    }.toMap
    val inline = (e: Expression) => e.transformUp {
      case ar: AttributeReference if aliasMap.contains(ar.exprId) =>
        aliasMap(ar.exprId)
    }
    val filters = filters0.map(inline)
    val groupings = agg.groupingExpressions.map(inline)
    val aggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case ar: AttributeReference if aliasMap.contains(ar.exprId) =>
        Alias(aliasMap(ar.exprId), ar.name)(ar.exprId, ar.qualifier)
      case al: Alias =>
        Alias(inline(al.child), al.name)(al.exprId, al.qualifier)
      case other => other
    }
    if (!(filters ++ groupings).forall(
        _.references.subsetOf(preservedOut))) return None
    if (!(filters ++ groupings ++ aggExprs).forall(_.deterministic))
      return None
    // below-expand filters reference the relation: grain-only, and
    // they re-apply verbatim on the summary rows
    if (!childFilters.forall(f => f.deterministic &&
        f.references.forall(a => grainNames.contains(a.name))))
      return None

    val sub: LogicalPlan =
      if (spec.deltaFiles.isEmpty && spec.deletedFiles.isEmpty)
        spec.relation.newInstance()
      else Summaries.compensatedPlan(spec).getOrElse(return None)
    val sByName = sub.output.map(a => a.name -> a).toMap
    val appended =
      scala.collection.mutable.LinkedHashMap[String, AttributeReference]()
    def colFor(c: String): Attribute =
      appended.getOrElseUpdate(c, AttributeReference(
        "__mv_" + c, sByName(c).dataType)())
    val surgeon = new Surgeon(spec, Map.empty, grainOutAttrs, colFor,
      () => preservedOut ++ AttributeSet(appended.values.toSeq))
    val newGrouping = groupings.map(surgeon.rewriteExpr)
    val newAggs = aggExprs.map(surgeon.rewriteNamed)
    val newFilters = filters.map(surgeon.rewriteExpr)
    if (!(newGrouping ++ newAggs ++ newFilters).forall(_.isDefined))
      return None

    val newChildFilters = childFilters.map(_.transformUp {
      case ar: AttributeReference => sByName(ar.name)
    })
    val newProjections = expand.projections.map { row =>
      row.zipWithIndex.map { case (e, j) =>
        e match {
          case a: AttributeReference if grainNames.contains(a.name) =>
            sByName(a.name): Expression
          case a: AttributeReference =>
            // non-grain passthrough: only measure aggregates consumed
            // it, and those now read the appended summary columns
            Literal.create(null, a.dataType): Expression
          case l: Literal => l: Expression
        }
      } ++ appended.keys.toSeq.map(c => sByName(c): Expression)
    }
    val newOutput = expand.output ++ appended.values.toSeq
    val summaryChild = newChildFilters
      .foldRight(sub)((c, p) => Filter(c, p))
    val newExpand = org.apache.spark.sql.catalyst.plans.logical.Expand(
      newProjections, newOutput, summaryChild)
    val aggChild = newFilters.map(_.get)
      .foldRight(newExpand: LogicalPlan)((c, p) => Filter(c, p))
    Some(Aggregate(newGrouping.map(_.get), newAggs.map(_.get), aggChild))
    }
    Summaries.rankBySelectivity(candidates, childFilters)
      .view.flatMap(s => trySpec(s)).headOption
  }
}
