package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression, IsNotNull, LessThan}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.types.ArrayType

/** Scale audit over a query's PHYSICAL plan — the library-level form of
  * the checks PlanSpec applies to the registered queries, exposed so a
  * pipeline can gate its own composed queries before running them at
  * cluster scale ("would this plan survive 100×?").
  *
  * Heuristics over the executed-plan text, deliberately conservative:
  * ERRORs are shapes that are quadratic or unbounded at scale (product
  * joins); WARNs are shapes that usually indicate a lost optimization
  * (a filter evaluated above a scan that pushed nothing down, an
  * unusually deep shuffle chain). A clean report does not prove a plan
  * scales — it proves the known red flags are absent.
  */
object PlanAudit {

  final case class Finding(severity: String, message: String) {
    override def toString: String = s"[$severity] $message"
  }

  /** Audit the physical plan; returns findings, worst first. */
  def audit(df: DataFrame, maxExchanges: Int = 6): Seq[Finding] = {
    val plan = df.queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toSeq
    val errors = Seq.newBuilder[Finding]
    val warns = Seq.newBuilder[Finding]

    if (plan.contains("CartesianProduct"))
      errors += Finding("ERROR",
        "CartesianProduct: O(n*m) pairs cross the cluster; add an equi-key " +
          "or broadcast the bounded side explicitly")
    if (plan.contains("BroadcastNestedLoopJoin"))
      errors += Finding("ERROR",
        "BroadcastNestedLoopJoin: every probe row scans the whole broadcast " +
          "side; manufacture an equi-join key (binning/banding) instead")

    // a Filter planned directly above a FileScan that pushed no filters:
    // the predicate was pushable in principle but nothing reached the scan
    lines.sliding(2).foreach {
      case Seq(f, s)
        if f.contains("Filter ") && s.contains("FileScan") &&
          s.contains("PushedFilters: []") =>
        warns += Finding("WARN",
          "Filter above a scan with PushedFilters: [] — predicate not " +
            "pushed; check for casts/UDFs wrapping the filtered column")
      case _ => ()
    }

    // count only SHUFFLE exchanges: BroadcastExchange moves a bounded
    // frame and ReusedExchange is free — a broadcast-heavy star join must
    // not trip the deep-shuffle warning. RoundRobinPartitioning
    // (df.repartition(n) / REPARTITION hints) is a real shuffle too.
    val exchanges =
      "Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)".r
        .findAllIn(plan).length
    if (exchanges > maxExchanges)
      warns += Finding("WARN",
        s"$exchanges Exchange nodes (> $maxExchanges): deep shuffle chain — " +
          "look for a reusable partitioning or a pre-aggregation")

    // Codegen spans only materialize in AQE's FINAL plan (per query
    // stage, at execution); on an unexecuted adaptive plan the check
    // would warn on everything. Assess it only when the plan is final
    // (non-adaptive, or adaptive after an action).
    val codegenAssessable =
      !plan.contains("AdaptiveSparkPlan") || plan.contains("isFinalPlan=true")
    // the compact toString renders a codegen stage as a "*(n) " operator
    // prefix; the literal node name only appears in other explain formats
    val hasCodegen = plan.contains("WholeStageCodegen") || plan.contains("*(")
    // a bare scan (no compute operator) has nothing to fuse — not a miss
    val hasCompute = lines.exists(l =>
      l.contains("Filter ") || l.contains("Project ") || l.contains("Aggregate") ||
        l.contains("Join") || l.contains("Window"))
    if (codegenAssessable && !hasCodegen && hasCompute && plan.contains("FileScan"))
      warns += Finding("WARN",
        "no WholeStageCodegen span: the hot path is interpreted — check for " +
          "non-codegen expressions or object-typed operators")

    errors.result() ++ candidatePayloadFindings(df.queryExecution.sparkPlan) ++
      warns.result()
  }

  // ---- candidate-payload discipline (round-14 invariant, promoted from
  // per-query PlanSpec pins to a registry-wide audit in round 15) ----
  //
  // The invariant, measured at sf10 (DECISIONS.md round-14): banded dedup
  // candidates are the fastest-growing frame in the engine (11.9x at 10x
  // data); attaching wide array payload to them before any prefilter, or
  // sort-merge-joining them while arrays ride along, turns the hot
  // exchanges into tens of GB of sort/spill (the q93 write-IO wall and
  // the jaccard heap collapse both lived here). Detection is structural:
  //
  //  - a CANDIDATE-GENERATING join is an equi-join whose keys on BOTH
  //    sides trace to Generate (explode) outputs not hidden behind an
  //    aggregate — the band-key / prefix-token self-join shape. (The
  //    doc-frequency join in the prefix path does NOT match: its
  //    aggregated side's explode sits below a HashAggregate.)
  //  - PROTECTION between an array-attach join and the gen join below it
  //    is any non-trivial Filter or join residual (size-ratio / estimate
  //    cuts survive as residual conditions on inner equi-joins — the
  //    optimizer absorbs post-join predicates); the bare `id_a < id_b`
  //    pair-ordering predicate and null checks do not count.

  /** Join-key exprIds produced by a Generate in `p`'s subtree without an
    * intervening aggregate (raw exploded keys — the candidate-join shape).
    */
  private def rawExplodedKeyIds(p: SparkPlan): Set[Long] = {
    val out = Set.newBuilder[Long]
    def walk(n: SparkPlan): Unit = n match {
      case _: BaseAggregateExec => ()
      case g: GenerateExec =>
        g.generatorOutput.foreach(a => out += a.exprId.id)
        g.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(p)
    out.result()
  }

  private def isCandidateGen(j: BaseJoinExec): Boolean = {
    def keysHitGen(keys: Seq[Expression], side: SparkPlan): Boolean = {
      val gen = rawExplodedKeyIds(side)
      gen.nonEmpty && keys.exists(_.references.exists(a => gen(a.exprId.id)))
    }
    j.leftKeys.nonEmpty &&
      keysHitGen(j.leftKeys, j.left) && keysHitGen(j.rightKeys, j.right)
  }

  private def containsCandGen(p: SparkPlan): Boolean =
    p.exists { case j: BaseJoinExec => isCandidateGen(j); case _ => false }

  /** A predicate that actually SELECTS (prefilters) — null checks and the
    * canonical `idA < idB` pair-ordering comparison between two bare
    * attributes are structural, not selective.
    */
  private def nontrivialCond(e: Expression): Boolean = e match {
    case And(l, r) => nontrivialCond(l) || nontrivialCond(r)
    case _: IsNotNull => false
    case LessThan(_: AttributeReference, _: AttributeReference) => false
    case _ => true
  }

  /** True when a path from `p` down to a candidate-generating join
    * crosses NO selective filter/residual — i.e. whatever is attached at
    * the consumer above rides the raw candidate set.
    */
  private def unprotectedPathToGen(p: SparkPlan): Boolean = p match {
    case f: FilterExec =>
      if (nontrivialCond(f.condition)) false else unprotectedPathToGen(f.child)
    case j: BaseJoinExec if isCandidateGen(j) =>
      !j.condition.exists(nontrivialCond)
    case j: BaseJoinExec if j.condition.exists(nontrivialCond) => false
    case other => other.children.exists(unprotectedPathToGen)
  }

  private def hasArrayOutput(p: SparkPlan): Boolean =
    p.output.exists(_.dataType.isInstanceOf[ArrayType])

  /** A Generate (explode) in `p`'s subtree with NO intervening aggregate —
    * i.e. the rows entering `p`'s parent are still at EXPLODED cardinality
    * (corpus × per-row fan-out), not reduced group counts.
    */
  private def subtreeHasRawGenerate(p: SparkPlan): Boolean = {
    def walk(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => false
      case _: GenerateExec      => true
      case other                => other.children.exists(walk)
    }
    walk(p)
  }

  /** The round-14 dedup-scale rules, WARN-graded (structural heuristics —
    * a hit is a frame that explodes at corpus scale, not a toy-scale bug).
    */
  private[graft] def candidatePayloadFindings(plan: SparkPlan): Seq[Finding] = {
    val warns = Seq.newBuilder[Finding]
    plan.foreach { node =>
      // the two rules are independent — one join can trip both
      node match {
        case j: SortMergeJoinExec
          if hasArrayOutput(j) &&
            (containsCandGen(j.left) || containsCandGen(j.right)) =>
          warns += Finding("WARN",
            "candidate-SMJ: a sort-merge join sorts a candidate-sized " +
              "intermediate while array payload rides along — hint " +
              "shuffle_hash on the doc-sized side so candidates stream " +
              "unsorted (round-14 invariant, DECISIONS.md)")
        case _ => ()
      }
      node match {
        case j: BaseJoinExec =>
          val sides = Seq(j.left -> j.right, j.right -> j.left)
          if (sides.exists { case (doc, cand) =>
            hasArrayOutput(doc) && containsCandGen(cand) &&
              unprotectedPathToGen(cand) && !j.condition.exists(nontrivialCond)
          })
            warns += Finding("WARN",
              "unfiltered-candidate-payload: array columns join onto a raw " +
                "candidate set with no prefilter in between — attach narrow " +
                "counts first, cut, then join wide payload onto survivors " +
                "(round-14 invariant, DECISIONS.md)")
        case _ => ()
      }
      // Round-15 invariant (the jaccard-prefix sf10 autopsy, promoted to
      // a registry-wide rule in round 16): never OBJECT-tier-aggregate a
      // frame still at exploded cardinality. An ObjectHashAggregateExec
      // (collect_list/collect_set/TypedImperative buffers) holds every
      // group's buffer as JVM OBJECTS; above 128 distinct keys per
      // partition it sort-falls-back but the buffers stay objects, and at
      // corpus×fan-out row counts the allocation storm collapses
      // time-to-safepoint (802 s of safepoint sync in the dying sf10 run
      // — DECISIONS.md round-15). Per-group reshaping over exploded rows
      // belongs in a Tungsten WINDOW (row_number + filter — binary rows,
      // disciplined spill), which is how the shipped prefix build works.
      // Only the PARTIAL aggregate sits over raw exploded rows (the final
      // sees the partial's reduced groups and the walk stops there), so
      // one bad shape yields one finding.
      node match {
        case a: ObjectHashAggregateExec if subtreeHasRawGenerate(a.child) =>
          warns += Finding("WARN",
            "object-agg-over-explode: an object-tier aggregate " +
              "(collect_list/collect_set/typed-imperative) consumes rows at " +
              "exploded cardinality — at corpus scale the per-group object " +
              "buffers become a safepoint-collapsing allocation storm; use " +
              "a Tungsten window (row_number) for per-group reshaping " +
              "(round-15 invariant, DECISIONS.md)")
        case _ => ()
      }
    }
    warns.result().distinct
  }
}
