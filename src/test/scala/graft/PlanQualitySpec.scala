package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Physical-plan gates (SURVEY §4): filters and projections must reach the
  * parquet scan; small dimension joins must broadcast; the signature stage
  * must be shuffle-free; co-partitioned aggregations must not re-shuffle.
  * Runs against the sf0.001 harness tables. */
class PlanQualitySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate pushdown + column pruning reach the parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"),
      s"missing pushed filter:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"missing pruned schema:\n$p")
  }

  test("dimension fan-in joins broadcast (q02)") {
    val p = plan(queries.Queries.queries("q02_join_dims")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join must not sort-merge:\n$p")
  }

  test("signature stage is narrow (no Exchange)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g")).toDF("id", "text")
    val p = plan(stages.Signatures.withSignatures(docs, model.EngineConfig.default))
    assert(!p.contains("Exchange"), s"signatures must not shuffle:\n$p")
  }

  test("fused doc_sigs evaluates ONCE in the signatures projection") {
    // the fused kernel is only a win if CollapseProject leaves the aliased
    // struct in its own projection — a merged plan would copy the
    // expression per extracted field and tokenize the text twice again.
    // (A LocalRelation input would be constant-folded away entirely, so
    // read from parquet like the real pipeline does.)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val df = stages.Signatures.withSignatures(docs, model.EngineConfig.default)
      .select("id", "minhash", "simhash")
    val o = df.queryExecution.optimizedPlan.toString
    val n = "doc_sigs".r.findAllIn(o).length
    assert(n == 1, s"expected exactly one doc_sigs call in the optimized plan, got $n:\n$o")
  }

  test("whole-stage codegen covers the scalar metric expressions") {
    // parquet-backed input so Catalyst cannot constant-fold the whole query
    val df = spark.read.parquet(s"$dir/customer.parquet")
      .select(graft.expr.GraftFunctions.jaroWinkler(col("c_name"), col("c_mktsegment")).as("jw"),
        graft.expr.GraftFunctions.damerauLevenshtein(col("c_name"), col("c_mktsegment")).as("dl"))
    val p = plan(df)
    // "*(1) Project [jaro_winkler(...)]" — the star marks whole-stage
    // codegen; the custom doGenCode static calls live inside that stage
    assert(p.contains("*(1) Project [jaro_winkler"), s"jw/dl must stay inside codegen:\n$p")
    df.collect() // force execution: the generated static calls must compile
  }

  test("PairGen small-bucket path: bounded shuffles, bucket cache shared by both branches") {
    import spark.implicits._
    val buckets = (1L to 100L).map(i => (i % 10, i, i)).toDF("key", "id", "sort")
    val p = plan(stages.PairGen.pairs(buckets))
    // the big-key count runs as its own bounded-collect job at build time
    // and materializes the bucket cache; the returned plan reads that cache
    // instead of re-running the explode upstream. (With zero hot keys the
    // chain branch is pruned away entirely — PropagateEmptyRelation — so
    // exactly one cache scan remains.)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 4, s"too many shuffles ($exchanges):\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"pair branches must read the shared bucket cache:\n$p")
  }

  test("q08 dense ids avoid the single-partition global window (W6 hazard)") {
    val p = plan(queries.Queries.queries("q08_dense_ids")(spark, dir))
    assert(!p.contains("Exchange SinglePartition"),
      s"dense-id path must stay distributed:\n$p")
  }

  test("SparkEntry.entry assigns every sf0.001 document exactly one cluster") {
    val r = SparkEntry.entry(spark).agg(count(lit(1)), countDistinct("doc_id")).head()
    val (rows, ids) = (r.getLong(0), r.getLong(1))
    assert(rows > 0, "entry() returned no rows")
    assert(ids == rows, s"$rows rows for $ids distinct doc_ids")
    assert(rows == spark.read.parquet(s"$dir/documents.parquet").count())
  }
}
