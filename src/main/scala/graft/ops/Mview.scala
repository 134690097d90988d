package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sql.Scan

/** Incremental materialized views over txlog tables (the Delta Live
  * Tables / materialized-view shape, re-derived on the txlog CDF
  * machinery — see reference repo notebooks' repeated "recompute the
  * gold aggregate each run" pattern, which this replaces with
  * delta-maintenance).
  *
  * A materialized view is itself a txlog table whose properties carry
  * the definition (`graft.mview.query`), the source path, and the last
  * source version folded in (`graft.mview.sourceVersion`). REFRESH
  * brings it forward to the source head choosing the cheapest sound
  * strategy:
  *
  *   - **delta merge** (COUNT / SUM / AVG aggregates): the keyless
  *     multiset delta [[TxLog.rowDeltas]] is aggregated per group into
  *     signed deltas and MERGEd into the view — cost follows the window's
  *     touched files plus the view files holding changed groups, never
  *     the source snapshot. SUM / AVG keep per-group non-null counts in
  *     `__mv_n_<col>` aux columns (and AVG a running double sum in
  *     `__mv_s_<col>`), so a group whose last non-null value leaves goes
  *     back to NULL instead of a stale number; `__mv_count` tracks group
  *     cardinality so emptied groups DELETE. Classic self-maintainable
  *     view maintenance (Gupta & Mumick's counting algorithm), expressed
  *     as one Spark aggregation + one MERGE.
  *   - **touched-group recompute** (MIN / MAX present): per-group
  *     max is not delta-maintainable under deletes, so the groups the
  *     delta names are recomputed from the source snapshot (a semi-join
  *     the group-column stats/bloom machinery prunes) and MERGEd:
  *     updated groups rewrite, vanished groups ride along as tombstone
  *     rows that hit a matched-DELETE clause — one commit, no
  *     full-table anti-join.
  *   - **append-only projection** (no aggregates): an all-`+1` window
  *     appends the projected rows; any `−1` (update / delete upstream)
  *     falls back to full recompute.
  *   - **full recompute** fallback: forced (`REFRESH … FULL`), source
  *     schema DDL changed across the window, window expired below the
  *     source's log-retention horizon, or a global MIN/MAX view.
  *
  * Every refresh lands as ONE commit on the view: the new
  * `sourceVersion` stamp rides the data commit's property deltas
  * (`extraProps`), so a crash can never leave data applied but the
  * cursor behind (the double-apply hazard) — the same
  * atomic-txn-in-commit idea as Delta's `txn` action.
  *
  * Operational contract (the Delta CDF one): the refresh cadence must
  * beat the source's VACUUM retention — the window's pre-images are
  * read at old versions, and a vacuum that removed those files makes
  * the lazy scan fail loudly at execution (REFRESH … FULL recovers).
  * Log retention is guarded eagerly (`full_expired_history`); data
  * retention cannot be, because file liveness is only known at read.
  * Views compose: a view's source may itself be a view (it is just a
  * txlog table), and the inner refresh's merge commit is an ordinary
  * touched-file window to the outer's delta. */
object Mview {

  val QueryProp = "graft.mview.query"
  val SourceProp = "graft.mview.source"
  val VersionProp = "graft.mview.sourceVersion"
  val Source2Prop = "graft.mview.dim"
  val Version2Prop = "graft.mview.dimVersion"

  /** Every INCREMENTAL refresh commit claims (this stream id, toVersion)
    * — the txlog replay guard then makes a concurrent rival refresh of
    * the SAME window refuse at commit instead of double-applying its
    * delta on retry (the racing-refresh hazard; serial refreshes of
    * successive windows have strictly growing batch ids). Full
    * recomputes stay unguarded: they are idempotent by construction and
    * a forced FULL must be re-runnable at the same source version. */
  private val RefreshStream = Some("graft.mview")

  private def concurrentNoop(view: String, fromV: Long,
      toV: Long): Refresh =
    Refresh("noop_concurrent_refresh", fromV, toV,
      TxLog.latestVersion(view).get)

  /** Post-refresh housekeeping: every incremental merge leaves the view
    * one rewrite + maybe one insert file richer; a daily-refreshed view
    * would grow its file count without bound. Once the active count
    * crosses `graft.mview.compactThreshold` (default 32; 0 disables),
    * fold the small files with [[TxLog.optimizeSmall]] — a layout-only
    * commit that [[TxLog.rowDeltas]] skips, so cascading views see
    * nothing. Best-effort: a failed compaction must never fail the
    * refresh that data-committed already, but it says so on stderr;
    * fatal errors and interrupts propagate. */
  private def maybeCompact(spark: SparkSession, view: String): Unit = {
    val threshold = TxLog.properties(view)
      .get("graft.mview.compactThreshold").map(_.toInt).getOrElse(32)
    if (threshold <= 0) return
    try {
      if (TxLog.activeFiles(view).size > threshold)
        TxLog.optimizeSmall(spark, view,
          minFileSizeBytes = 32L * 1024 * 1024, targetFiles = 1)
    } catch { case NonFatal(e) =>
      System.err.println(s"[mview] compaction of $view failed: " +
        s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** A recognized aggregate select item. `fn`: count_star | count |
    * sum | avg | min | max; `arg` is the raw expression text. */
  final case class Agg(fn: String, arg: Option[String], alias: String)
  /** A projection select item (non-aggregate view). */
  final case class Proj(exprText: String, alias: String)
  /** An optional `JOIN txlog.`/p` [AS] d ON <cond>` dimension side: the
    * stream-static IVM shape — deltas are computed on the FACT (first)
    * table and joined to the dimension snapshot; a dimension change
    * falls back to full recompute (guarded by its recorded version). */
  final case class DimSpec(path: String, alias: Option[String], on: String)

  final case class MvDef(source: String, where: Option[String],
      groupBy: Seq[String], aggs: Seq[Agg], projs: Seq[Proj],
      alias: Option[String] = None, dim: Option[DimSpec] = None) {
    def isAggregate: Boolean = aggs.nonEmpty
    /** COUNT/SUM/AVG only: maintainable purely from ANY signed delta. */
    def deltaMaintainable: Boolean =
      aggs.forall(a => Set("count_star", "count", "sum", "avg")(a.fn))
    /** Plus mergeable HLL sketches: maintainable from an INSERT-ONLY
      * delta (sketch union has no subtraction — deletes recompute). */
    def hasHll: Boolean = aggs.exists(_.fn == "approx_count_distinct")
    def insertOnlyMaintainable: Boolean = aggs.forall(a =>
      Set("count_star", "count", "sum", "avg",
        "approx_count_distinct")(a.fn))
  }

  final case class Refresh(mode: String, fromVersion: Long,
      toVersion: Long, viewVersion: Long)

  private def auxN(a: String) = s"__mv_n_$a"
  private def auxS(a: String) = s"__mv_s_$a"
  private def auxH(a: String) = s"__mv_h_$a"

  /** `col` or `qualifier.col` → the bare column name; None for anything
    * computed. */
  private def plainColAlias(text: String): Option[String] = {
    val ps = new Scan(text.trim)
    ps.identPart().flatMap { first =>
      if (ps.eof) Some(first)
      else if (ps.punct('.')) ps.identPart().filter(_ => ps.eof)
      else None
    }
  }

  /** Recognize the supported view grammar:
    * {{{
    * SELECT <item>[, …] FROM txlog.`/path` [WHERE <pred>] [GROUP BY c[, …]]
    * }}}
    * where each item is `count(*)|count(e)|sum(e)|avg(e)|min(e)|max(e)
    * AS alias`, a plain GROUP BY column, or (projection views, no GROUP
    * BY) `expr AS alias`. Anything else refuses at CREATE with the
    * unsupported piece named — an MV that silently fell back to full
    * recompute forever would defeat its own point. */
  def parseDef(query: String): MvDef = {
    val s = new Scan(query)
    require(s.kw("SELECT"), s"materialized view query must start with SELECT: $query")
    val selectText = s.until("FROM")
    require(s.kw("FROM"),
      s"materialized view query needs FROM txlog.`/path`: $query")
    def targetPath(what: String): String = {
      val p0 = s.pos
      (s.word() match {
        case Some(w) if w.equalsIgnoreCase("txlog") && s.punct('.') =>
          s.backquoted()
        case _ => { s.reset(p0); s.backquoted() }
      }).getOrElse(throw new IllegalArgumentException(
        s"materialized view $what must be txlog.`/path` (a txlog table path)"))
    }
    def aliasOpt(): Option[String] = {
      if (s.kw("AS")) Some(s.identPart().getOrElse(
        throw new IllegalArgumentException(
          "materialized view: expected an alias after AS")))
      else {
        val p = s.pos
        s.word() match {
          case Some(w) if !Set("JOIN", "WHERE", "GROUP", "ON")
              .contains(w.toUpperCase) => Some(w)
          case _ => { s.reset(p); None }
        }
      }
    }
    val source = targetPath("source")
    val alias1 = aliasOpt()
    val dim = if (s.kw("JOIN")) {
      val p2 = targetPath("JOIN target")
      val a2 = aliasOpt()
      require(s.kw("ON"), "materialized view JOIN needs ON <condition>")
      val on = s.until("WHERE", "GROUP").trim
      require(on.nonEmpty, "materialized view JOIN ON condition is empty")
      Some(DimSpec(p2, a2, on))
    } else None
    val where = if (s.kw("WHERE")) {
      val w = s.until("GROUP").trim
      require(w.nonEmpty, "materialized view WHERE clause is empty")
      Some(w)
    } else None
    val groupBy =
      if (s.kws("GROUP", "BY"))
        // qualified forms normalize to the bare column name — the view's
        // output column (and merge key) is the bare name either way
        Scan.splitTop(s.until(), ',').map(g =>
          plainColAlias(g).getOrElse(Scan.unquoteIdent(g.trim)))
      else Seq.empty
    require(s.eof, s"unexpected trailing input in materialized view query: $query")

    val aggFns = Seq("approx_count_distinct", "count", "sum", "avg",
      "min", "max")
    var aggs = Vector.empty[Agg]
    var projs = Vector.empty[Proj]
    Scan.splitTop(selectText, ',').map(_.trim).filter(_.nonEmpty).foreach { item =>
      val ps = new Scan(item)
      val fn = aggFns.find(f => { val p = ps.pos
        if (ps.kw(f) && ps.punct('(')) true else { ps.reset(p); false } })
      fn match {
        case Some(f) =>
          val body = ps.parenBody().trim
          require(!body.toUpperCase.startsWith("DISTINCT "),
            s"materialized view: $f(DISTINCT …) is not incrementally " +
              s"maintainable — drop DISTINCT or maintain a exact-dedup table upstream")
          ps.kw("AS")
          val alias = ps.identPart().getOrElse(throw new IllegalArgumentException(
            s"materialized view: aggregate item needs an alias: `$item`"))
          require(ps.eof, s"materialized view: trailing input in item `$item`")
          require(!alias.startsWith("__mv_"),
            s"materialized view: alias `$alias` collides with the __mv_ maintenance namespace")
          aggs :+= (if (f == "count" && body == "*") Agg("count_star", None, alias)
            else Agg(f, Some(body), alias))
        case None =>
          // plain (possibly alias-qualified) column or expr AS alias
          val exprText = ps.until("AS").trim
          val alias =
            if (ps.kw("AS")) ps.identPart().getOrElse(
              throw new IllegalArgumentException(
                s"materialized view: expected an alias after AS in `$item`"))
            else plainColAlias(exprText).getOrElse(
              throw new IllegalArgumentException(
                s"materialized view: non-column item needs AS alias: `$item`"))
          require(!alias.startsWith("__mv_"),
            s"materialized view: alias `$alias` collides with the __mv_ maintenance namespace")
          require(ps.eof, s"materialized view: trailing input in item `$item`")
          projs :+= Proj(exprText, alias)
      }
    }
    if (groupBy.nonEmpty || aggs.nonEmpty) {
      // aggregate view: non-agg items must be exactly the GROUP BY
      // columns (alias-qualified forms like `d.seg` are plain too)
      val plain = projs.map(_.alias)
      require(projs.forall(p => plainColAlias(p.exprText).contains(p.alias)),
        "materialized view: computed non-aggregate items are not supported " +
          "in an aggregate view — group on plain columns")
      require(plain.sorted == groupBy.sorted,
        s"materialized view: select's plain columns ${plain.mkString(",")} " +
          s"must match GROUP BY ${groupBy.mkString(",")}")
      require(aggs.nonEmpty, "materialized view: GROUP BY without aggregates")
      val recomputable = aggs.forall(a =>
        Set("count_star", "count", "sum", "avg", "min", "max",
          "approx_count_distinct")(a.fn))
      require(recomputable, "materialized view: unsupported aggregate")
      MvDef(source, where, groupBy, aggs, Seq.empty, alias1, dim)
    } else {
      require(projs.nonEmpty, "materialized view: empty select list")
      require(projs.map(_.alias).distinct.size == projs.size,
        "materialized view: duplicate output column aliases")
      MvDef(source, where, Seq.empty, Seq.empty, projs, alias1, dim)
    }
  }

  private def withAlias(df: DataFrame, a: Option[String]): DataFrame =
    a.map(df.alias).getOrElse(df)

  /** The view's input frame: the fact frame (aliased) joined to the
    * dimension snapshot when the definition has one. `factDf` is either
    * a full snapshot or a [[TxLog.rowDeltas]] frame — a signed fact row
    * joined to the static dimension keeps its sign, which is exactly why
    * the stream-static join tier stays delta-maintainable. */
  private def baseFrame(spark: SparkSession, d: MvDef, factDf: DataFrame,
      dimV: Option[Long]): DataFrame = d.dim match {
    case None => withAlias(factDf, d.alias)
    case Some(ds) =>
      val dimDf = withAlias(TxLog.read(spark, ds.path, dimV), ds.alias)
      withAlias(factDf, d.alias).join(dimDf, expr(ds.on), "inner")
  }

  /** Full compute of the view frame over `src` (the CREATE path, full
    * refresh, and the touched-group recompute all share it — create and
    * refresh MUST agree expression-for-expression or an incremental
    * refresh would drift from a full one). AVG is stored as the derived
    * `__mv_s / __mv_n` division (double), NOT native avg, so the full
    * and incremental paths are bit-identical. */
  private def compute(d: MvDef, src: DataFrame): DataFrame = {
    val base = d.where.map(w => src.filter(expr(w))).getOrElse(src)
    if (!d.isAggregate)
      return base.select(d.projs.map(p => expr(p.exprText).as(p.alias)): _*)
    val aggExprs: Seq[Column] = d.aggs.flatMap { a =>
      lazy val e = expr(a.arg.get)
      a.fn match {
        case "count_star" => Seq(count(lit(1)).as(a.alias))
        case "count" => Seq(count(e).as(a.alias))
        case "sum" => Seq(sum(e).as(a.alias), count(e).as(auxN(a.alias)))
        case "avg" => Seq(
          (sum(e.cast("double")) / count(e)).as(a.alias),
          sum(e.cast("double")).as(auxS(a.alias)),
          count(e).as(auxN(a.alias)))
        case "min" => Seq(min(e).as(a.alias))
        case "max" => Seq(max(e).as(a.alias))
        // the sketch itself rides as aux state: a later insert-only
        // window UNIONs into it instead of re-reading the source
        case "approx_count_distinct" => Seq(
          hll_sketch_estimate(hll_sketch_agg(e)).as(a.alias),
          hll_sketch_agg(e).as(auxH(a.alias)))
      }
    } :+ count(lit(1)).as("__mv_count")
    val grouped =
      if (d.groupBy.isEmpty) base.groupBy()
      else base.groupBy(d.groupBy.map(col): _*)
    grouped.agg(aggExprs.head, aggExprs.tail: _*)
  }

  /** CREATE MATERIALIZED VIEW: full compute at the source head, written
    * as the view table's first version with the definition + cursor in
    * the same commit. Declares the group columns as stats columns so
    * every later MERGE prunes view files by group-key bounds. */
  def create(spark: SparkSession, view: String, query: String,
      orReplace: Boolean = false): Long = {
    val d = parseDef(query)
    require(orReplace || TxLog.latestVersion(view).isEmpty,
      s"materialized view target $view already exists — use CREATE OR " +
        "REPLACE MATERIALIZED VIEW (or pick a fresh path)")
    val srcV = TxLog.latestVersion(d.source).getOrElse(
      throw new IllegalArgumentException(
        s"materialized view source ${d.source} is not a txlog table"))
    val dimV = d.dim.map(ds => TxLog.latestVersion(ds.path).getOrElse(
      throw new IllegalArgumentException(
        s"materialized view JOIN target ${ds.path} is not a txlog table")))
    val out = compute(d, baseFrame(spark, d,
      TxLog.read(spark, d.source, Some(srcV)), dimV))
    val props: Map[String, Option[String]] = Map(
      QueryProp -> Some(query.trim),
      SourceProp -> Some(d.source),
      VersionProp -> Some(srcV.toString)) ++
      d.dim.map(ds => Source2Prop -> Some(ds.path)).toMap ++
      dimV.map(v => Version2Prop -> Some(v.toString)).toMap ++
      // group-less (or replaced) views unset a stale declaration rather
      // than inherit a prior incarnation's columns
      Map("graft.stats.columns" ->
        (if (d.groupBy.nonEmpty) Some(d.groupBy.mkString(",")) else None))
    TxLog.overwrite(out, view, extraProps = props)
  }

  /** REFRESH MATERIALIZED VIEW — see the strategy table in the object
    * doc. One commit; the cursor rides it atomically. */
  def refresh(spark: SparkSession, view: String,
      full: Boolean = false): Refresh = {
    val props = TxLog.properties(view)
    val query = props.getOrElse(QueryProp, throw new IllegalArgumentException(
      s"$view is not a materialized view (no $QueryProp property) — " +
        "create it with CREATE MATERIALIZED VIEW"))
    val d = parseDef(query)
    val fromV = props.getOrElse(VersionProp, "0").toLong
    val toV = TxLog.latestVersion(d.source).getOrElse(
      throw new IllegalArgumentException(
        s"materialized view source ${d.source} has no commits"))
    val mvV = TxLog.latestVersion(view).get
    // dimension side (stream-static join views): recorded vs current
    val fromV2 = d.dim.map(_ => props.getOrElse(Version2Prop, "0").toLong)
    val toV2 = d.dim.map(ds => TxLog.latestVersion(ds.path).getOrElse(
      throw new IllegalArgumentException(
        s"materialized view JOIN target ${ds.path} has no commits")))
    val stamp: Map[String, Option[String]] =
      Map(VersionProp -> Some(toV.toString)) ++
        toV2.map(v => Version2Prop -> Some(v.toString)).toMap
    def fullRefresh(mode: String): Refresh = {
      val out = compute(d, baseFrame(spark, d,
        TxLog.read(spark, d.source, Some(toV)), toV2))
      Refresh(mode, fromV, toV,
        TxLog.overwrite(out, view, extraProps = stamp))
    }
    // forced FULL rebuilds even at a caught-up cursor (the operator's
    // recover-from-anything verb); everything else no-ops there
    if (full) return fullRefresh("full_forced")
    if (toV == fromV && fromV2 == toV2)
      return Refresh("noop", fromV, toV, mvV)
    if (toV < fromV)
      // source RESTOREd/replaced below the cursor: deltas are undefined
      return fullRefresh("full_source_rewound")
    // the dimension moved: a fact-side delta can't express rows whose
    // JOIN partner changed — recompute (the stream-static contract)
    if (fromV2 != toV2) return fullRefresh("full_dim_changed")
    // expired window: rowDeltas must read at fromV — below the source's
    // log-retention horizon that snapshot no longer exists
    if (fromV < TxLog.retentionHorizon(d.source).getOrElse(1L))
      return fullRefresh("full_expired_history")
    // any name/type change across the window (add/drop/rename/widen):
    // the aligned delta can't represent a rename, so don't guess.
    // Nullability-insensitive — OPTIMIZE stamps the rewritten frame's
    // relaxed nullability and alignment only needs names + types.
    def shape(v: Long) = TxLog.schemaAsOf(d.source, Some(v))
      .map(_.fields.toSeq.map(f => (f.name, f.dataType)))
    if (shape(fromV) != shape(toV))
      return fullRefresh("full_schema_changed")

    val deltas0 = baseFrame(spark, d,
      TxLog.rowDeltas(spark, d.source, fromV, toV), toV2)
    val deltas = d.where.map(w => deltas0.filter(expr(w))).getOrElse(deltas0)

    if (!d.isAggregate) {
      // projection view: append-only windows append, anything else recomputes
      val hasNeg = !deltas.filter(col("_sign") < 0).isEmpty
      if (hasNeg) return fullRefresh("full_nonappend_delta")
      val rows = deltas.filter(col("_sign") > 0)
        .select(d.projs.map(p => expr(p.exprText).as(p.alias)): _*)
      try {
        val v = TxLog.append(rows, view, batchId = toV,
          streamId = RefreshStream, extraProps = stamp)
        maybeCompact(spark, view)
        return Refresh("incremental_append", fromV, toV, v)
      } catch {
        case _: TxLog.ConcurrentWriteException =>
          return concurrentNoop(view, fromV, toV)
      }
    }

    // HLL views merge sketches — union has no subtraction, so the delta
    // path needs an INSERT-ONLY window; anything else recomputes the
    // touched groups (grouped) or the snapshot (global)
    val deltaTier = d.deltaMaintainable || (d.insertOnlyMaintainable &&
      deltas.filter(col("_sign") < 0).isEmpty)
    if (deltaTier) {
      val sign = col("_sign").cast("long")
      val dAggs: Seq[Column] = d.aggs.flatMap { a =>
        lazy val e = expr(a.arg.get)
        a.fn match {
          case "count_star" => Seq(sum(sign).as(s"__d_${a.alias}"))
          case "count" => Seq(
            sum(when(e.isNotNull, sign).otherwise(lit(0L))).as(s"__d_${a.alias}"))
          case "sum" => Seq(
            sum(e * sign).as(s"__d_${a.alias}"),
            sum(when(e.isNotNull, sign).otherwise(lit(0L))).as(s"__dn_${a.alias}"))
          case "avg" => Seq(
            sum(e.cast("double") * sign).as(s"__d_${a.alias}"),
            sum(when(e.isNotNull, sign).otherwise(lit(0L))).as(s"__dn_${a.alias}"))
          // insert-only window (guarded above): the batch's sub-sketch
          case "approx_count_distinct" =>
            Seq(hll_sketch_agg(e).as(s"__d_${a.alias}"))
        }
      } :+ sum(sign).as("__d_cnt")
      val grouped =
        if (d.groupBy.isEmpty) deltas.groupBy()
        else deltas.groupBy(d.groupBy.map(col): _*)
      // drop all-zero groups (a rewrite's +1/−1 pairs cancel here), so
      // source-layout churn (that rowDeltas didn't already skip) never
      // touches a view file
      val nonZero = (col("__d_cnt") =!= 0L) +: d.aggs.flatMap { a =>
        if (a.fn == "approx_count_distinct")
          Nil // a sketch delta always rides a nonzero __d_cnt (insert-only)
        else
          Seq(coalesce(col(s"__d_${a.alias}").cast("double"), lit(0.0)) =!= 0.0) ++
            (if (a.fn == "sum" || a.fn == "avg")
              Seq(col(s"__dn_${a.alias}") =!= 0L) else Nil)
      }
      // PERSIST the per-group delta: mergeInto drives several actions
      // over its source (key bounds, key probes, touched-file semi-join,
      // the rewrite itself) and each would otherwise re-run the whole
      // rowDeltas scan + aggregation; the frame is at most one row per
      // changed group
      val delta = grouped.agg(dAggs.head, dAggs.tail: _*)
        .filter(nonZero.reduce(_ || _)).persist()
      val cond =
        if (d.groupBy.isEmpty) lit(true)
        else d.groupBy.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
      val updSet = Map(
        "__mv_count" -> (col("t.__mv_count") + col("s.__d_cnt"))) ++
        d.aggs.flatMap { a =>
          val al = a.alias
          a.fn match {
            case "count_star" | "count" =>
              Seq(al -> (col(s"t.$al") + col(s"s.__d_$al")))
            case "sum" =>
              val n = col(s"t.${auxN(al)}") + col(s"s.__dn_$al")
              Seq(
                al -> when(n === 0L, lit(null)).otherwise(
                  coalesce(col(s"t.$al"), lit(0)) +
                    coalesce(col(s"s.__d_$al"), lit(0))),
                auxN(al) -> n)
            case "avg" =>
              val n = col(s"t.${auxN(al)}") + col(s"s.__dn_$al")
              val sm = coalesce(col(s"t.${auxS(al)}"), lit(0.0)) +
                coalesce(col(s"s.__d_$al"), lit(0.0))
              // aux sum stores NULL at n = 0 so the incremental state is
              // bit-identical to a from-scratch compute (sum of nothing
              // is NULL), not a 0.0 that drifts the comparison
              Seq(
                al -> when(n === 0L, lit(null)).otherwise(sm / n),
                auxS(al) -> when(n === 0L, lit(null)).otherwise(sm),
                auxN(al) -> n)
            case "approx_count_distinct" =>
              // register-max union: the merged sketch equals the sketch
              // of the concatenated stream, so incremental estimates
              // track a from-scratch compute
              val dh = col(s"s.__d_$al")
              val th = col(s"t.${auxH(al)}")
              val merged = when(dh.isNull, th).when(th.isNull, dh)
                .otherwise(hll_union(th, dh))
              Seq(
                al -> when(merged.isNull, lit(null))
                  .otherwise(hll_sketch_estimate(merged)),
                auxH(al) -> merged)
          }
        }
      val insVals = d.groupBy.map(k => k -> col(s"s.$k")).toMap ++
        Map("__mv_count" -> col("s.__d_cnt")) ++
        d.aggs.flatMap { a =>
          val al = a.alias
          a.fn match {
            case "count_star" | "count" => Seq(al -> col(s"s.__d_$al"))
            case "sum" => Seq(
              al -> when(coalesce(col(s"s.__dn_$al"), lit(0L)) === 0L,
                lit(null)).otherwise(col(s"s.__d_$al")),
              auxN(al) -> coalesce(col(s"s.__dn_$al"), lit(0L)))
            case "avg" => Seq(
              al -> when(coalesce(col(s"s.__dn_$al"), lit(0L)) === 0L,
                lit(null)).otherwise(col(s"s.__d_$al") / col(s"s.__dn_$al")),
              auxS(al) -> when(coalesce(col(s"s.__dn_$al"), lit(0L)) === 0L,
                lit(null)).otherwise(col(s"s.__d_$al")),
              auxN(al) -> coalesce(col(s"s.__dn_$al"), lit(0L)))
            case "approx_count_distinct" => Seq(
              al -> when(col(s"s.__d_$al").isNull, lit(null))
                .otherwise(hll_sketch_estimate(col(s"s.__d_$al"))),
              auxH(al) -> col(s"s.__d_$al"))
          }
        }
      val matched: Seq[TxLog.MergeAction] =
        (if (d.groupBy.nonEmpty)
          Seq(TxLog.MergeDelete(
            Some(col("t.__mv_count") + col("s.__d_cnt") === 0L)))
        else Nil) :+ TxLog.MergeUpdate(None, updSet)
      try {
        val v = TxLog.mergeInto(spark, view, delta, "t", "s", cond,
          matched = matched,
          notMatched = Seq(TxLog.MergeInsert(None, insVals)),
          onKeys = d.groupBy.map(k => (k, k)),
          extraProps = stamp, batchId = toV, streamId = RefreshStream)
        maybeCompact(spark, view)
        return Refresh("incremental_merge", fromV, toV, v)
      } catch {
        case _: TxLog.ConcurrentWriteException =>
          return concurrentNoop(view, fromV, toV)
      } finally delta.unpersist(blocking = false)
    }

    // MIN/MAX (and HLL-under-deletes) tier: recompute exactly the groups
    // the delta names
    if (d.groupBy.isEmpty)
      return fullRefresh(if (d.hasHll) "full_sketch_deletes"
      else "full_global_minmax") // recompute IS the full scan
    val touched = deltas.select(d.groupBy.map(col): _*).distinct().persist()
    val snap = baseFrame(spark, d,
      TxLog.read(spark, d.source, Some(toV)), toV2)
    val keyEq = (l: String, r: String) => d.groupBy
      .map(k => col(s"$l.$k") <=> col(s"$r.$k")).reduce(_ && _)
    val baseF = d.where.map(w => snap.filter(expr(w))).getOrElse(snap)
    // Pre-filter the source scan by the touched keys' per-column BOUNDS
    // (driver-side: 3 scalars per group column) before the exact
    // semi-join: the literal range predicate reaches the scan, where the
    // source's recorded min/max stats prune whole files — on a
    // group-clustered 100 TB table the recompute reads the touched
    // groups' files, not the snapshot. Sound: a bound only NARROWS the
    // scan, and every touched group's rows lie inside its own column
    // bounds. A column whose touched set contains a NULL key skips its
    // predicate entirely (a plain range would drop the NULL-keyed source
    // rows the `<=>` semi-join must still find).
    val boundAggs = d.groupBy.flatMap(k => Seq(
      min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k"),
      sum(when(col(k).isNull, 1L).otherwise(0L)).as(s"__nn_$k")))
    val boundsRow = touched.agg(boundAggs.head, boundAggs.tail: _*)
      .collect().headOption
    val ranged = boundsRow match {
      case Some(row) =>
        d.groupBy.zipWithIndex.foldLeft(baseF) { case (df, (k, i)) =>
          val (lo, hi) = (row.get(3 * i), row.get(3 * i + 1))
          val hasNullKey = row.isNullAt(3 * i + 2) || row.getLong(3 * i + 2) > 0
          if (lo == null || hi == null || hasNullKey) df
          else df.filter(col(k) >= lit(lo) && col(k) <= lit(hi))
        }
      case None => baseF
    }
    // the semi/anti joins rename the key side instead of re-aliasing the
    // source frame — a SubqueryAlias on the joined fact⋈dim frame would
    // hide the user's own f./d. qualifiers from the aggregate expressions
    def renamedKeys(df: DataFrame, tag: String): DataFrame =
      df.select(d.groupBy.map(k => col(k).as(s"__${tag}_$k")): _*)
    def renamedCond(tag: String) = d.groupBy
      .map(k => col(k) <=> col(s"__${tag}_$k")).reduce(_ && _)
    val scoped = ranged.join(renamedKeys(touched, "tch"),
      renamedCond("tch"), "left_semi")
    val recomputed = compute(d.copy(where = None), scoped)
    // groups named by the delta but absent from the recompute died —
    // they ride the merge source as tombstones for the matched-DELETE
    val dead = touched.join(renamedKeys(recomputed, "rc"),
      renamedCond("rc"), "left_anti")
    val mvSchema = recomputed.schema
    val deadFull = dead.select(mvSchema.fields.toSeq.map { f =>
      if (d.groupBy.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    // persisted for the same reason as the delta tier: mergeInto runs
    // several actions over its source, and this one embeds the
    // recompute's source scan
    val src = recomputed.withColumn("__mv_dead", lit(false))
      .unionByName(deadFull.withColumn("__mv_dead", lit(true))).persist()
    val setAll = mvSchema.fieldNames.filterNot(d.groupBy.contains)
      .map(c => c -> col(s"s.$c")).toMap
    val insAll = mvSchema.fieldNames.map(c => c -> col(s"s.$c")).toMap
    try {
      val v = TxLog.mergeInto(spark, view, src, "t", "s", keyEq("t", "s"),
        matched = Seq(
          TxLog.MergeDelete(Some(col("s.__mv_dead"))),
          TxLog.MergeUpdate(None, setAll)),
        notMatched = Seq(TxLog.MergeInsert(Some(!col("s.__mv_dead")), insAll)),
        onKeys = d.groupBy.map(k => (k, k)),
        extraProps = stamp, batchId = toV, streamId = RefreshStream)
      maybeCompact(spark, view)
      Refresh("incremental_recompute", fromV, toV, v)
    } catch {
      case _: TxLog.ConcurrentWriteException =>
        concurrentNoop(view, fromV, toV)
    } finally {
      src.unpersist(blocking = false)
      touched.unpersist(blocking = false)
    }
  }
}
