package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, LogicalPlan, BROADCAST}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Reference distribution parity: tables declared `replicated`
  * (`/root/reference/qpmodel/Catalog.cs:76-124`, `create table ar (...)
  * replicated`) are always broadcast to every node. The Spark-native
  * mapping is a join-hint optimizer rule: any join side that scans a
  * replicated table gets a BROADCAST hint, independent of the size
  * threshold — the planner then picks BroadcastHashJoin/BNLJ exactly as
  * the reference's property enforcement would place a PhysicBroadcast.
  *
  * Injected via GraftExtensions (spark.sql.extensions), which lands in
  * the operator-optimization batches — BEFORE join reorder. That is a
  * deliberate trade-off, not an accident: a hinted join becomes a
  * single reorder ITEM (CostBasedJoinReorder only flattens hint-free
  * inner joins), so the chains on either side of a replicated join
  * still reorder freely while the replicated side's broadcast is
  * guaranteed no matter what order wins — the reference's semantics
  * require the broadcast unconditionally, so there is nothing for the
  * cost model to decide at that join. Staying inside the extension
  * also keeps the rule active for config-only users
  * (`spark.sql.extensions` alone) and for `newSession()` clones, which
  * do not inherit `experimental.extraOptimizations` (where the
  * post-reorder rules live — see GraftSession.ensurePostReorderRules
  * for the placement contrast). Idempotent: a side with an existing
  * hint is left untouched.
  */
class ReplicatedTableHints extends Rule[LogicalPlan] {

  /** A join side is replicated iff it derives from replicated tables
    * ONLY — every base relation under it is a replicated scan (the
    * reference closes replication under local operators: any result
    * computed purely from replicated inputs is itself computable on
    * every node, `Catalog.cs:76-124`). An `exists`-style test here would
    * be a scale-killer: after join reorder, a multi-join intermediate
    * that merely CONTAINS nation/region would get force-broadcast
    * regardless of its actual size — the r7 10× soak caught exactly
    * that (a 9-relation query statically broadcasting a 1.3 GB
    * intermediate into the driver because one leaf was nation).
    */
  private def onlyReplicated(plan: LogicalPlan): Boolean = {
    val leaves = plan.collectLeaves()
    // Membership delegates to the catalog (graft.catalog.Tables
    // .broadcastable is the single source of truth) and matches the
    // scan's RESOLVED root path, not its basename — a user table that
    // merely happens to be called `nation.parquet` is never hinted.
    leaves.nonEmpty && leaves.forall {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.nonEmpty &&
          fs.location.rootPaths.forall(graft.catalog.Tables.isReplicatedRoot)
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j: Join =>
      val lh = j.hint.leftHint.orElse(
        if (onlyReplicated(j.left)) Some(HintInfo(Some(BROADCAST))) else None)
      val rh = j.hint.rightHint.orElse(
        if (onlyReplicated(j.right)) Some(HintInfo(Some(BROADCAST))) else None)
      if ((lh, rh) == (j.hint.leftHint, j.hint.rightHint)) j
      else j.copy(hint = j.hint.copy(leftHint = lh, rightHint = rh))
  }
}
