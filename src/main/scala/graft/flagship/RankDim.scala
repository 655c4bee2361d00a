package graft.flagship

import graft.Flagship.Ctx
import graft.operators.{Behavior, Materialize}

/** Dimension-scale stress of the honest-exact-rank allowlist class:
  * `rfm_segments` / `lorenz_deciles` / `md5_global_rank` sort a
  * DIMENSION table under UNPARTITIONED rank windows — correct at sf1,
  * argued safe at 100 TB because dimensions are ~1/10⁴ of facts (100 TB
  * of facts keeps company with ~10 GB of customers ≈ 10⁸ rows). Scenario
  * `rankdim` measures that argument instead of repeating it: an `n`-row
  * synthetic customer dimension driven through [[Behavior.rfmFrom]]'s
  * EXACT shipped plan (three global row_number windows + the
  * quartile-code aggregate), recording wall, task CPU and — the question
  * that decides feasibility — SORT SPILL (an unpartitioned window puts
  * the whole dimension through ONE task's external sorter).
  *
  * The per-executor bound this measures: one task must external-sort
  * n_dim rows of ~32 B payload. Feasible while n_dim·32 B fits one
  * executor's local disk and the single-threaded n·log n sort fits the
  * job's latency budget; the escalation past ~10⁹ (also the row_number
  * IntegerType ceiling at 2³¹) is a two-level rank decomposition (the
  * zipfRanks pattern: range-bucket → in-bucket rank + bucket-offset
  * cumsum).
  *
  * Usage: scripts/run.sh graft.Flagship rankdim [n=…]. Results:
  * RANKDIM_1E8.md.
  */
object RankDim {

  def run(c: Ctx): Seq[(String, Any)] = {
    val n = c.long("n")
    // synthetic dimension in the shipped perCust schema — xxhash64-keyed
    // (pure Catalyst), value ranges matching the GenSf customer/orders
    // rollup. STAGED so the measured action is the rank stage, not the
    // generator.
    val dim = Materialize.stage(c.spark.range(n).selectExpr(
      "id AS c_custkey",
      "date_add(DATE'1995-01-01', CAST(pmod(xxhash64(id, 1), 2404) AS INT)) AS last_day",
      "pmod(xxhash64(id, 2), 50) AS freq",
      "pmod(xxhash64(id, 3), 10000000) AS cents"))
    val rows = c.stage("rank")(Behavior.rfmFrom(dim).collect())
    val total = rows.map(_.getLong(3)).sum
    require(total == n, s"segment counts must cover every row: $total != $n")
    val m = c.stages("rank").m
    Seq("n_rows" -> n, "wall_sec" -> c.wall("rank"), "cpu_sec" -> m.cpuSec,
      "segments" -> rows.length, "mem_spill_mb" -> (m.memSpillBytes >> 20),
      "disk_spill_mb" -> (m.diskSpillBytes >> 20), "peak_task_mem_mb" -> (m.peakExecMem >> 20))
  }
}
