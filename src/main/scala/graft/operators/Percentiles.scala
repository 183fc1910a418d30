package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles via DISTRIBUTED SORT — the scale path.
  *
  * Spark's `percentile` aggregate collects every value of a group into ONE
  * aggregation buffer (`OpenHashMap` in the exact implementation) — correct
  * at test scale, but a single hot group at 100 TB materializes in one
  * executor's heap. This formulation ranks values with a window sort
  * (distributed, spillable), finds each quantile's two neighbor ranks, and
  * interpolates — identical results to `percentile(col, p)` (and DuckDB's
  * `QUANTILE_CONT`): all three use the same `h = (n−1)·p` linear
  * interpolation.
  *
  * Cost: one shuffle+sort of (group, value) — narrow rows, spill-friendly —
  * plus a join against the per-group quantile targets (`2·|ps|` rows per
  * group; AQE broadcasts it when small, shuffles when group cardinality is
  * extreme).
  */
object Percentiles {

  /** Exact percentiles of `valueCol` per `groupCol`: one output row per
    * group with columns named by `names` (parallel to `ps`). */
  def exactByGroup(df: DataFrame, groupCol: String, valueCol: String,
                   ps: Seq[Double], names: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.size == names.size, "ps and names must align")
    require(ps.forall(p => p >= 0.0 && p <= 1.0), "percentiles must be in [0,1]")
    val w = Window.partitionBy(groupCol).orderBy("__v")
    val ranked = df.select(col(groupCol), col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
      .withColumn("__rn", row_number().over(w))
    val counts = ranked.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    // tiny frame: one row per (group, quantile) with its neighbor ranks
    val wanted = counts.select(col(groupCol), col("__n"),
        explode(array(ps.zip(names).map { case (p, nm) =>
          struct(lit(p).as("p"), lit(nm).as("nm"))
        }: _*)).as("__q"))
      .select(col(groupCol), col("__q.nm").as("__nm"),
        ((col("__n") - 1).cast("double") * col("__q.p")).as("__h"))
      .select(col(groupCol), col("__nm"), col("__h"),
        (floor(col("__h")).cast("long") + 1).as("__lo"),
        (ceil(col("__h")).cast("long") + 1).as("__hi"))
    // no forced broadcast: `wanted` is 2·|ps| rows per GROUP, so a
    // high-cardinality group column could blow past the broadcast limit —
    // AQE picks broadcast when it fits and a shuffle join when it doesn't
    val hits = ranked.join(wanted, Seq(groupCol))
      .where(col("__rn") === col("__lo") || col("__rn") === col("__hi"))
      .groupBy(groupCol, "__nm", "__h", "__lo")
      .agg(max(when(col("__rn") === col("__lo"), col("__v"))).as("__vlo"),
        max(when(col("__rn") === col("__hi"), col("__v"))).as("__vhi"))
      .withColumn("__val", {
        // (1−d)·lower + d·higher — Spark's own interpolation spelling in the
        // percentile aggregate; lower + d·(higher−lower) differs in the last
        // ulp and would break the bit-identity pin
        val d = col("__h") - (col("__lo") - 1).cast("double")
        (lit(1.0) - d) * col("__vlo") + d * col("__vhi")
      })
    // pivot quantiles into columns, preserving the caller's names; groups
    // whose values are ALL NULL re-attach with NULL percentiles (matching
    // percentile()/QUANTILE_CONT, which ignore NULLs but keep the group)
    val agged = hits.groupBy(groupCol).pivot("__nm", names).agg(first("__val"))
    df.select(col(groupCol)).distinct()
      .join(agged, Seq(groupCol), "left")
      .select(col(groupCol) +: names.map(col): _*)
  }

  /** [[exactByGroup]] for the FEW-HOT-GROUPS regime — the shape where the
    * grouped ranking window degenerates: `Window.partitionBy(group)` puts
    * each group's ENTIRE value set into one task's sort, so three groups
    * over a 100 TB table are three hot partitions no matter the cluster
    * size. Here a [[RangeScan]] keyed by the group splits every group
    * ACROSS ~p/|groups| partitions, and the global in-group rank is its
    * offset + the partition-local `row_number`. Driver state is
    * |partitions|·|groups| longs plus 2·|ps|·|groups| neighbor values —
    * which is why this variant REQUIRES a bounded group count
    * (`maxGroups` guard): with many groups use
    * [[exactByGroup]], whose window distributes fine when groups are small.
    *
    * Returns the same frame shape as [[exactByGroup]] (one row per group,
    * quantile columns named by `names`; all-NULL groups keep NULL
    * percentiles) with identical `(1−d)·lo + d·hi` interpolation — the two
    * forms are differentially pinned in the spec. */
  def exactByGroupRanged(df: DataFrame, groupCol: String, valueCol: String,
                         ps: Seq[Double], names: Seq[String],
                         maxGroups: Int = 10000): DataFrame =
    byGroupRangedCore(df, groupCol, valueCol, ps, names, maxGroups)(
      targetRanks = { (q, n) =>
        val h = (n - 1).toDouble * q
        Seq(math.floor(h).toLong + 1, math.ceil(h).toLong + 1)
      },
      pick = { (q, n, at) =>
        val h = (n - 1).toDouble * q
        val d = h - math.floor(h)
        (1.0 - d) * at(math.floor(h).toLong + 1) + d * at(math.ceil(h).toLong + 1)
      })

  /** `percentile_disc` — the NEAREST-RANK ordered-set sibling of
    * [[exactByGroupRanged]]: the value at rank `max(1, ⌈p·n⌉)` of the
    * group's sorted non-NULL values (the first value whose cumulative
    * fraction reaches p — Postgres `percentile_disc(p) WITHIN GROUP`,
    * DuckDB `quantile_disc`). An actual data value, never interpolated.
    * Same ranged distributed-sort machinery (and the same bounded-group
    * guard) as the continuous form — only the target rank and the pick
    * differ. */
  def discByGroupRanged(df: DataFrame, groupCol: String, valueCol: String,
                        ps: Seq[Double], names: Seq[String],
                        maxGroups: Int = 10000): DataFrame =
    byGroupRangedCore(df, groupCol, valueCol, ps, names, maxGroups)(
      targetRanks = { (q, n) => Seq(math.max(1L, math.ceil(q * n).toLong)) },
      pick = { (q, n, at) => at(math.max(1L, math.ceil(q * n).toLong)) })

  /** Shared ranged-rank core of [[exactByGroupRanged]] /
    * [[discByGroupRanged]]: in-group ranks from a [[RangeScan]] keyed by
    * the group, then fit each quantile from `targetRanks`' collected values
    * via `pick`. */
  private def byGroupRangedCore(df: DataFrame, groupCol: String,
                                valueCol: String, ps: Seq[Double],
                                names: Seq[String], maxGroups: Int)(
      targetRanks: (Double, Long) => Seq[Long],
      pick: (Double, Long, Map[Long, Double]) => Double): DataFrame = {
    require(ps.nonEmpty && ps.size == names.size, "ps and names must align")
    require(ps.forall(p => p >= 0.0 && p <= 1.0), "percentiles must be in [0,1]")
    val spark = df.sparkSession
    val narrow = df
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("__v"))
      // NULL groups are excluded from the fit and re-attach with NULL
      // percentiles — observably identical to exactByGroup, whose final
      // re-attach join also never matches a NULL key
      .where(col("__v").isNotNull && col("__g").isNotNull)
    val fitted: Seq[(String, Seq[java.lang.Double])] =
      RangeScan(narrow, Seq("__g"), Seq(col("__v"))) { scan =>
        val offsets = scan.offsets(count(lit(1)))
        val nByG: Map[String, Long] =
          offsets.totals.map { case (g, n) => g.head.asInstanceOf[String] -> n }
        val groups = nByG.keys.toSeq.sorted
        require(groups.size <= maxGroups,
          s"${groups.size} groups exceed maxGroups=$maxGroups — use exactByGroup, " +
            "whose per-group window distributes when group count is large")
        val targetsByG: Map[String, Seq[Long]] = nByG.map { case (g, n) =>
          g -> ps.flatMap(q => targetRanks(q, n)).distinct
        }
        val at =
          if (nByG.isEmpty) Map.empty[(String, Long), Double]
          else scan.frame
            .withColumn("__rn", offsets.column + row_number().over(scan.window))
            .where(targetsByG.map { case (g, ts) =>
              col("__g") === g && col("__rn").isin(ts: _*)
            }.reduce(_ || _))
            .select(col("__g"), col("__rn"), col("__v"))
            .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
        val atByG: Map[String, Map[Long, Double]] =
          at.groupBy(_._1._1).map { case (g, m) =>
            g -> m.map { case ((_, rn), v) => rn -> v }
          }
        groups.map { g =>
          val n = nByG(g)
          val atG = atByG.getOrElse(g, Map.empty[Long, Double])
          g -> ps.map(q => java.lang.Double.valueOf(pick(q, n, atG)))
        }
      }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(
      StructField("__g", StringType) +:
        names.map(n => StructField(n, DoubleType)))
    val artifact = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          fitted.map { case (g, vs) => Row.fromSeq(g +: vs) }).asJava),
      schema)
    // re-attach every input group (all-NULL groups keep NULL percentiles,
    // matching exactByGroup / percentile() / QUANTILE_CONT)
    df.select(col(groupCol)).distinct()
      .join(artifact, col(groupCol).cast("string") === col("__g"), "left")
      .select(col(groupCol) +: names.map(col): _*)
  }

  /** Exact GLOBAL quantiles of one column — the no-group-key case that
    * [[exactByGroup]] cannot serve at scale (a constant group key turns its
    * ranking window into ONE partition holding the whole column).
    *
    * Scale: the global rank is a [[RangeScan]] row count on the value plus
    * the partition-local `row_number`; only the ≤ 2·|ps| neighbor values
    * come back to the driver. Interpolation is the identical
    * `(1−d)·lower + d·higher` at `h = (n−1)·p` as [[exactByGroup]],
    * `percentile()` and DuckDB's `QUANTILE_CONT`.
    *
    * Returns one value per requested quantile, driver-side (quantiles are
    * model artifacts, like [[Profiling.standardize]]'s μ/σ); `None` when the
    * column has no non-NULL values. NULLs are ignored, as everywhere.
    */
  def exactGlobalValues(df: DataFrame, valueCol: String,
                        ps: Seq[Double]): Seq[Option[Double]] =
    exactGlobalValuesMulti(df, Seq(valueCol), ps)(valueCol)

  /** [[exactGlobalValues]] for SEVERAL columns in ONE input scan — the
    * multi-column fit [[Profiling.robustScale]] needs (a per-column loop
    * re-executes the whole upstream plan per column).
    *
    * Recipe: melt to narrow (column-index, value) pairs with `posexplode`,
    * then a [[RangeScan]] keyed by the column index, which splits every
    * column ACROSS ~p/|cols| partitions, so no column ever lands in one
    * partition (the failure mode that rules out a melt through
    * [[exactByGroup]], whose per-group ranking window is one partition per
    * column). Driver-side state: |partitions|·|cols| longs plus the
    * ≤ 2·|ps|·|cols| neighbor values — model artifacts, not data.
    *
    * Returns quantiles keyed by column name; a column with no non-NULL
    * values maps to all-`None`. Interpolation is the identical
    * `(1−d)·lower + d·higher` at `h = (n−1)·p` as everywhere here. */
  def exactGlobalValuesMulti(df: DataFrame, valueCols: Seq[String],
                             ps: Seq[Double]): Map[String, Seq[Option[Double]]] = {
    require(ps.nonEmpty, "ps must be non-empty")
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    require(ps.forall(p => p >= 0.0 && p <= 1.0), "percentiles must be in [0,1]")
    val narrow = df
      .select(posexplode(array(valueCols.map(cn => col(cn).cast("double")): _*))
        .as(Seq("__ci", "__v")))
      .where(col("__v").isNotNull)
    RangeScan(narrow, Seq("__ci"), Seq(col("__v"))) { scan =>
      val offsets = scan.offsets(count(lit(1)))
      val nByCol: Map[Int, Long] =
        offsets.totals.map { case (ci, n) => ci.head.asInstanceOf[Int] -> n }
      val targetsByCol: Map[Int, Seq[Long]] = nByCol.map { case (ci, n) =>
        ci -> ps.flatMap { q =>
          val h = (n - 1).toDouble * q
          Seq(math.floor(h).toLong + 1, math.ceil(h).toLong + 1)
        }.distinct
      }
      // ≤ 2·|ps|·|cols| rows back to the driver — a model artifact, not data
      val at =
        if (nByCol.isEmpty) Map.empty[(Int, Long), Double]
        else scan.frame
          .withColumn("__rn", offsets.column + row_number().over(scan.window))
          .where(targetsByCol.map { case (ci, ts) =>
            col("__ci") === ci && col("__rn").isin(ts: _*)
          }.reduce(_ || _))
          .select(col("__ci"), col("__rn"), col("__v"))
          .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
      valueCols.zipWithIndex.map { case (cn, ci) =>
        cn -> (nByCol.get(ci) match {
          case None => ps.map(_ => None)
          case Some(n) => ps.map { q =>
            val h = (n - 1).toDouble * q
            val lo = math.floor(h).toLong + 1
            val hi = math.ceil(h).toLong + 1
            val d = h - math.floor(h)
            Some((1.0 - d) * at((ci, lo)) + d * at((ci, hi)))
          }
        })
      }.toMap
    }
  }
}
