package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** KLL and theta sketches run on Spark's native DataSketches
  * expressions. These pin what that must keep: sketches persisted by
  * the earlier hand-written aggregates read back with the same
  * answers, all-null groups keep their null/zero reads, and a bad
  * `lgK` fails while the plan is built. */
class SketchCompatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.functions.KllFunctions._
  import graft.functions.ThetaFunctions._

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // Payloads written by the hand-written KLL/theta aggregates that
  // these built-ins replace. A = {"0".."19"}, B = {"10".."29"} at
  // lgK 12 (exact); C = {"0".."99"} at lgK 4 (estimation mode, that
  // build estimated 108.52492725283982); K = {1.5, 3.0, .., 45.0}
  // at k 200 (exact). The empty ones are all-null groups.
  private val thetaA = unhex(
    "47530102030300001acc93140000000000803f6d0194c80437b40855d3073b4c" +
    "21c309d97bde9d0087910fa9a4fac7413eb50f34eb15a5b75712359c7ac15498" +
    "56723c8f29d9dc6e16613eec85fef4ae08c349c2b40dab71a7ad4bde6ece2dfa" +
    "1b584ce9f8c8f87cf2984d7f27d4d83bde3e608e3b1801607f4566e0bf2aa95c" +
    "8c506747966c9b779fe569eb5b7560dc0885727f2949d4e2cb007463424f08aa" +
    "0a4276e4243a4429f6dc79576b95d52278ad7c")
  private val thetaB = unhex(
    "47530102030300001acc93140000000000803f177c41ccdebdf4026d0194c804" +
    "37b408986e3a796e2b4f164c2cd798e195442034eb15a5b757123528321b66be" +
    "d6de35744e04dd5fca35399c7ac1549856723c8f29d9dc6e16613ea99535c2ea" +
    "a74044bb97089d4a484347c2b40dab71a7ad4bde6ece2dfa1b584c9c3c8ed2ad" +
    "a63e511d5616abc134a2537f27d4d83bde3e608e3b1801607f4566eb5b7560dc" +
    "08857234c093928ab6a1737f2949d4e2cb0074")
  private val thetaC = unhex(
    "47530103030300001acc93100000000000803f7f2426ae9d09df124b62631962" +
    "ef4700177c41ccdebdf40200d22a429b7e43032366c6e5c4b048076d0194c804" +
    "37b40855d3073b4c21c309c8cf934e72720e0af58b232b3f96230b1bc4c3af8c" +
    "fb730d1a466af6cdca130e92ce223193f68c0ed97bde9d0087910fa9a4fac741" +
    "3eb50fdbd52264351d5810e25f44808b7b2f1195b4e38fb099ea11")
  private val kll = unhex(
    "05010f00c80008001e00000000000000c8000100aa000000000000000000f83f" +
    "0000000000804640000000000000384000000000008039400000000000003b40" +
    "0000000000803c400000000000003e400000000000803f400000000000804040" +
    "000000000040414000000000000042400000000000c042400000000000804340" +
    "000000000040444000000000000045400000000000c045400000000000804640" +
    "0000000000803640000000000000354000000000008033400000000000003240" +
    "00000000008030400000000000002e400000000000002b400000000000002840" +
    "000000000000254000000000000022400000000000001e400000000000001840" +
    "00000000000012400000000000000840000000000000f83f")
  private val emptyKll = unhex("02010f01c8000800")
  private val emptyTheta = unhex("47530101030300001e0000")

  test("sketches persisted by the hand-written aggregates read back " +
      "with the same estimates, quantiles and ranks") {
    val df = Seq((thetaA, thetaB, thetaC, kll, emptyKll, emptyTheta))
      .toDF("a", "b", "c", "k", "ek", "et")
    val r = df.select(thetaEstimate(col("a")),
      thetaIntersect(col("a"), col("b")),
      thetaDifference(col("a"), col("b")), thetaEstimate(col("c")),
      kllQuantile(col("k"), 0.37), kllRank(col("k"), 17.0),
      kllQuantile(col("k"), 0.5), kllRank(col("k"), 30.2),
      kllQuantile(col("ek"), 0.5), thetaEstimate(col("et")))
      .collect().head
    assert(r.getDouble(0) == 20.0 && r.getDouble(1) == 10.0 &&
      r.getDouble(2) == 10.0, r.toString)
    // estimation mode: the estimate is now the rounded count
    assert(r.getDouble(3) == math.round(108.52492725283982).toDouble,
      r.toString)
    assert(r.getDouble(4) == 18.0 && r.getDouble(5) == 0.36666666666666664
      && r.getDouble(6) == 22.5 && r.getDouble(7) == 0.6666666666666666,
      r.toString)
    assert(r.isNullAt(8) && r.getDouble(9) == 0.0, r.toString)

    val union = Seq(thetaA, thetaB).toDF("sk")
      .agg(thetaUnion(12, col("sk")).as("u"))
      .select(thetaEstimate(col("u"))).as[Double].head()
    assert(union == 30.0)
    val merged = Seq(kll, kll).toDF("sk")
      .agg(kllMerge(200, col("sk")).as("m"))
      .select(kllQuantile(col("m"), 0.37), kllRank(col("m"), 17.0))
      .as[(Double, Double)].head()
    assert(merged == ((18.0, 0.36666666666666664)))
  }

  test("the envelope check runs on the Catalyst path: a newer " +
      "version fails, an emitted payload carries the header") {
    val fut = thetaA.clone()
    fut(2) = (graft.functions.SketchPayload.NormVersion + 1).toByte
    val e = intercept[Exception](Seq(fut).toDF("sk")
      .select(thetaEstimate(col("sk"))).collect())
    assert(e.getMessage.contains("newer"), e.getMessage)
    val sk = Seq("x", "y").toDF("v").agg(thetaSketch(12, col("v")))
      .as[Array[Byte]].head()
    assert(sk(0) == 'G'.toByte && sk(1) == 'S'.toByte &&
      sk(2) == graft.functions.SketchPayload.NormVersion)
  }

  private def aggregate(name: String, groups: String, fields: String,
      df: DataFrame): DataFrame =
    Pipeline.transforms("aggregation")(spark,
      Pipeline.ModuleCfg(name, "aggregation", Seq("in"), Nil,
        graft.config.Json.parse(s"""{
          "groupFields": $groups,
          "aggregations": [{"input": "in", "fields": [$fields]}]}"""),
        graft.config.Json.obj()), Map("in" -> df))(name)

  test("all-null groups: kll reads are null, theta estimates 0.0, " +
      "and so do their merges") {
    val df = Seq(("e", 0, None, None), ("e", 1, None, None),
        ("f", 0, Some(2.0), Some("x")), ("f", 1, Some(4.0), Some("y")))
      .toDF("g", "b", "v", "s")
    val stage1 = aggregate("s1", """["g", "b"]""",
      """{"name": "k", "op": "kll_sketch", "field": "v"},
         {"name": "t", "op": "theta_sketch", "field": "s"}""", df)
    val stage2 = aggregate("s2", """["g"]""",
      """{"name": "k", "op": "kll_merge", "field": "k"},
         {"name": "t", "op": "theta_union", "field": "t"}""", stage1)
    def reads(sketches: DataFrame) =
      graft.ops.SelectCompiler(sketches.filter(col("g") === "e"),
        graft.config.Json.parse(
          """[{"name": "q", "field": "k", "func": "kll_quantile"},
              {"name": "r", "field": "k", "func": "kll_rank",
               "value": 1.0},
              {"name": "n", "field": "t", "func": "theta_estimate"}]"""))
        .collect().toSeq
    for (r <- reads(stage1) ++ reads(stage2))
      assert(r.isNullAt(0) && r.isNullAt(1) && r.getDouble(2) == 0.0,
        r.toString)
    val f = graft.ops.SelectCompiler(stage2.filter(col("g") === "f"),
      graft.config.Json.parse(
        """[{"name": "q", "field": "k", "func": "kll_quantile"},
            {"name": "n", "field": "t", "func": "theta_estimate"}]"""))
      .as[(Double, Double)].head()
    assert(f == ((2.0, 2.0)))
  }

  test("theta lgK outside [4, 26] fails at build, naming the module " +
      "and the field") {
    val df = Seq(("g", "x")).toDF("g", "s")
    for ((op, lgK) <- Seq(("theta_sketch", 27), ("theta_union", 3))) {
      val e = intercept[IllegalArgumentException](aggregate("sk_agg",
        """["g"]""",
        s"""{"name": "sk_out", "op": "$op", "field": "s", "lgK": $lgK}""",
        df))
      assert(e.getMessage.contains("aggregation sk_agg") &&
        e.getMessage.contains("sk_out") &&
        e.getMessage.contains(s"got $lgK"), e.getMessage)
    }
  }
}
