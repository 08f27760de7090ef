package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** Committed scale-smoke harness: the sf ladder
  * multiplies rows inside a FIXED 31-word vocabulary, so it can never
  * exercise the ≥64-rank mask arithmetic or show whether the dedup/graph
  * family's cost actually scales with corpus size. This harness does both,
  * repeatably:
  *
  *  1. **Corpus builder** — an N× replication of `documents.parquet` with
  *     per-copy DISJOINT token vocabularies (every token of copy k gets a
  *     `c{k}x` prefix; empty tokens untouched so within-copy duplicate
  *     structure is preserved exactly): cross-copy jaccard is 0, within-copy
  *     duplicate structure is identical to the source, so TRUE duplicate
  *     density is constant and work should grow ~linearly in corpus size.
  *     (A naive replication sharing one vocabulary multiplies near-dup
  *     density N× per doc — output legitimately grows quadratically and
  *     measures worst-case density, not the plan; see BASELINE.md.)
  *  2. **Runner** — executes the dedup/graph/sketch family at each level
  *     (ascending), single timed run per query per level after a codegen
  *     warmup pass, and asserts (a) zero failures and (b) ≤ linear growth:
  *     `t_N ≤ slack · (N / N₀) · t_N₀` with slack defaulting to 1.5 (the
  *     documented ±30% shared-VM noise band plus headroom; measured
  *     ratios sit at 0.3–0.9× of linear).
  *
  * Its disjoint per-copy vocabularies are the only inputs wide enough to
  * reach the PPJoin prefix-mask arithmetic past 64 ranks and its ANSI
  * long-overflow edges (`Dedup.scala`, DedupWideVocabSpec).
  *
  * Usage:
  * {{{
  *   sbt "runMain graft.ScaleSmoke"                 // levels 1,8 — full family
  *   sbt "runMain graft.ScaleSmoke 1,64 x54_ngram_jaccard,x57_minhash_lsh,x75_components"
  * }}}
  * Env: SPARK_GRAFT_SF_DIR (source corpus, default sf0.1),
  * SPARK_GRAFT_SCALE_DIR (corpus cache dir, default /tmp/graft-scale),
  * SPARK_GRAFT_SCALE_SLACK (linear-growth slack, default 1.5),
  * SPARK_GRAFT_WARM_DIR (codegen warmup, default sf0.001),
  * SPARK_GRAFT_MASTER (e.g. the local-cluster soak master — executor
  * classpath + SPARK_GRAFT_EXEC_MEM wired by [[Sessions.driver]]),
  * SPARK_GRAFT_JAVA_OPTS (extra -D flags for the forked JVM, e.g.
  * -Dgraft.stageMaterialize=reliable to soak a materialization mode).
  * Prints ONE JSON line; exit 1 on any failure or superlinear query.
  */
object ScaleSmoke {

  /** The at-scale family: every pipeline whose cost is driven by the
    * corpus-wide candidate structure (PPJoin, LSH banding, label
    * propagation, blocked edit-distance, keyed paragraph/window dedup,
    * keep-best resolution, df-thresholded boilerplate). */
  val family: Seq[String] = Seq(
    "x54_ngram_jaccard", "x57_minhash_lsh", "x75_components",
    "x84_edit_distance", "x89_para_dedup", "x92_substring_dup",
    "x108_keep_best", "x114_boilerplate")

  /** The event-analytics family: state keyed on
    * user_id/source, so an N×-users corpus with constant per-user event
    * density must grow ≤ linearly. (q93/q94 read orders/lineitem — the
    * TPC-H sf ladder already scales those; q95 reads documents, which the
    * same corpus level provides.) */
  val eventFamily: Seq[String] = Seq(
    "q88_funnel", "q89_retention", "q90_gap_fill", "q91_transitions",
    "q92_anomaly", "q95_quantile_norm")

  /** Build (or reuse) the N× disjoint-vocabulary corpus under
    * `base/x{n}`; returns the corpus dir. Only `documents.parquet` is
    * written — the family reads nothing else, and `Tables.ensure`'s
    * per-table isolation keeps the missing tables from failing anything
    * that doesn't reference them. */
  def buildCorpus(spark: SparkSession, srcDir: String, base: String,
                  n: Int, withEvents: Boolean = true): String = {
    val out = s"$base/x$n"
    // reuse only a corpus replicated from the SAME source — a level built
    // from a different SPARK_GRAFT_SF_DIR would silently void the
    // constant-density construction the linear assertion depends on
    val sentinel = Paths.get(out, "source.txt")
    if (Files.exists(Paths.get(out, "documents.parquet", "_SUCCESS")) &&
        (!withEvents ||
          Files.exists(Paths.get(out, "events.parquet", "_SUCCESS"))) &&
        Files.exists(sentinel) &&
        Files.readString(sentinel).trim == srcDir)
      return out
    val src = spark.read.parquet(s"$srcDir/documents.parquet")
    val stride = src.agg(F.max("doc_id")).head.getLong(0) + 1
    val copies: Seq[DataFrame] = (0 until n).map { k =>
      src.select(
        (F.col("doc_id") + F.lit(k.toLong * stride)).as("doc_id"),
        F.expr(("array_join(transform(split(text, ' '), " +
          s"t -> IF(t = '', t, concat('c${k}x', t))), ' ')")).as("text"),
        F.col("lang"), F.col("source"))
        .withColumn("n_chars", F.length(F.col("text")).cast("long"))
    }
    copies.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // events: N× the USERS at constant per-user event density — each copy
    // shifts user_id/event_id into a disjoint range and keeps ts/type/
    // value verbatim, so every per-user trajectory (funnel order, session
    // gaps, transition chains) is replicated exactly, never densified.
    // q88–q92 key their state on user_id; growth must be ~linear.
    // normalizeEventsTs: testdata stores ts in two encodings (nanos vs
    // micros) — reading raw would throw PARQUET_TYPE_ILLEGAL on the former
    if (withEvents) {
      val ev = Tables.normalizeEventsTs(
        spark.read.parquet(s"$srcDir/events.parquet"))
      val (uStride, eStride) = {
        val r = ev.agg(F.max("user_id"), F.max("event_id")).head
        (r.getLong(0) + 1, r.getLong(1) + 1)
      }
      (0 until n).map { k =>
        ev.select(
          (F.col("event_id") + F.lit(k.toLong * eStride)).as("event_id"),
          F.col("ts"),
          (F.col("user_id") + F.lit(k.toLong * uStride)).as("user_id"),
          F.col("event_type"), F.col("value"), F.col("props"))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    Files.writeString(sentinel, srcDir)
    out
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft-scale")
    val slack = sys.env.getOrElse("SPARK_GRAFT_SCALE_SLACK", "1.5").toDouble
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val levels = (if (args.nonEmpty) args(0) else "1,8")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val names =
      if (args.length > 1) args(1).split(",").toSeq
      else family ++ eventFamily
    require(levels.nonEmpty && names.nonEmpty)

    val spark = Sessions.driver()

    // codegen + JIT warmup (plan shape is scale-independent)
    names.foreach { q =>
      try SparkEntry.queries(q)(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[scale] warmup $q: ${e.getMessage}") }
    }

    val times = scala.collection.mutable.LinkedHashMap[(String, Int), Double]()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    levels.foreach { n =>
      val dir = buildCorpus(spark, srcDir, base, n,
        withEvents = names.exists(eventFamily.contains))
      System.err.println(s"[scale] level x$n corpus at $dir")
      names.foreach { q =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          times((q, n)) = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[scale] x$n $q ${times((q, n))}%8.2f s")
        } catch { case e: Throwable =>
          failures(s"$q@x$n") = Option(e.getMessage).getOrElse(e.toString)
          System.err.println(s"[scale] x$n $q FAILED: ${e.getMessage}")
        }
        spark.catalog.clearCache()
        System.gc()
      }
    }

    val n0 = levels.min
    val violations = for {
      q <- names if levels.size > 1
      n <- levels if n != n0
      t0 <- times.get((q, n0)); tn <- times.get((q, n))
      budget = slack * (n.toDouble / n0) * t0
      if tn > budget
    } yield f"$q: x$n ${tn}%.1f s > ${budget}%.1f s (= $slack × ${n / n0}× × ${t0}%.1f s)"

    def jMap(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val perQ = names.map { q =>
      q -> jMap(levels.flatMap(n =>
        times.get((q, n)).map(t => s"x$n" -> f"$t%.3f")))
    }
    val ok = failures.isEmpty && violations.isEmpty
    println(jMap(Seq(
      "metric" -> "\"scale_smoke\"",
      "src" -> s""""$srcDir"""",
      "levels" -> levels.mkString("[", ",", "]"),
      "slack" -> slack.toString,
      "queries" -> jMap(perQ),
      "failures" -> jMap(failures.map { case (k, v) =>
        k -> s""""${v.replace("\"", "'").replace("\n", " ").take(200)}"""" }),
      "violations" -> violations.map(v =>
        s""""${v.replace("\"", "'")}"""").mkString("[", ",", "]"),
      "ok" -> ok.toString)))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
