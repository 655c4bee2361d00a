package graft

import graft.operators.Behavior

/** Dimension-scale stress of the honest-exact-rank allowlist class
  * (r13 verdict item 7): `rfm_segments` / `lorenz_deciles` /
  * `md5_global_rank` sort a DIMENSION table under UNPARTITIONED rank
  * windows — correct at sf1, argued safe at 100 TB because dimensions
  * are ~1/10⁴ of facts (100 TB of facts keeps company with ~10 GB of
  * customers ≈ 10⁸ rows). This main measures that argument instead of
  * repeating it: a 10⁸-row synthetic customer dimension driven through
  * [[Behavior.rfmFrom]]'s EXACT shipped plan (three global row_number
  * windows + the quartile-code aggregate), recording wall, task CPU,
  * and — the question that decides feasibility — SORT SPILL (an
  * unpartitioned window puts the whole dimension through ONE task's
  * external sorter; memory + disk spill bytes are the per-executor
  * bill).
  *
  * The per-executor bound this measures: one task must external-sort
  * n_dim rows of ~32 B payload — heap-resident until
  * `spark.shuffle.spill.*` thresholds, spilling to local disk beyond.
  * Feasible while n_dim·32 B fits one executor's local disk and the
  * single-threaded n·log n sort fits the job's latency budget; the
  * escalation past ~10⁹ (also the row_number IntegerType ceiling at
  * 2³¹) is a two-level rank decomposition (the zipfRanks pattern:
  * range-bucket → in-bucket rank + bucket-offset cumsum).
  *
  * Usage: scripts/run.sh graft.RankDimFlagship [nRows]
  * Results: RANKDIM_1E8.md.
  */
object RankDimFlagship {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000000L)
    val spark = Session.build("graft-rankdim-flagship")
    // spill/CPU accounting across all tasks of the measured action
    val metrics = Metrics.install(spark)

    // synthetic dimension in the shipped perCust schema — xxhash64-keyed
    // (pure Catalyst, no driver-side randomness), value ranges matching
    // the GenSf customer/orders rollup. STAGED so the measured action
    // is the rank stage, not the generator.
    val dim = operators.Materialize.stage(spark.range(n).selectExpr(
      "id AS c_custkey",
      "date_add(DATE'1995-01-01', CAST(pmod(xxhash64(id, 1), 2404) AS INT)) AS last_day",
      "pmod(xxhash64(id, 2), 50) AS freq",
      "pmod(xxhash64(id, 3), 10000000) AS cents"))
    val ((rows, wall), m) = metrics.measure {
      val t0 = System.nanoTime()
      val rows = Behavior.rfmFrom(dim).collect()
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    val segs = rows.length
    val total = rows.map(_.getLong(3)).sum
    require(total == n, s"segment counts must cover every row: $total != $n")
    println(f"""{"metric":"rankdim","n_rows":$n,"wall_sec":${math.round(wall * 100) / 100.0},"cpu_sec":${math.round(m.cpuNs / 1e7) / 100.0},"segments":$segs,"mem_spill_mb":${m.memSpillBytes >> 20},"disk_spill_mb":${m.diskSpillBytes >> 20},"peak_task_mem_mb":${m.peakExecMem >> 20}}""")
    spark.stop()
  }
}
