package graft

import org.apache.spark.sql.functions._

import graft.operators.CurationPipeline

/** curateFull: each planted defect dies at exactly the stage built for
  * it, and the ordering decision (exact dedup BEFORE span dedup) keeps
  * one copy of a full duplicate instead of annihilating both.
  *
  * Per-doc vocabularies are disjoint (letter prefixes) except the
  * planted interactions, so no accidental cross-doc lines/spans/grams.
  */
class CurateFullSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = CurateFullSpec.rows.toDF("doc_id", "lang", "text")

  private lazy val curated = CurationPipeline.curateFull(
    docs, "text", "doc_id", "lang", col("doc_id") % 10 === 0)

  test("survivor set: one defect dies per stage") {
    val got = curated.select("doc_id").as[Long].collect().sorted
    // 2,3 gate; 9 exact-dup of 1; 4,5,6 lose only their boilerplate line;
    // 7,8 lose only the shared span; 12 near-dup of 11; 13 contaminated;
    // 20 eval
    assert(got.toSeq == Seq(1L, 4L, 5L, 6L, 7L, 8L, 11L))
  }

  test("scrubbing stages trim surviving docs to the expected tokens") {
    val toks = curated.select(col("doc_id"), size(col("_ws")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(toks(1L) == 16) // untouched
    assert(toks(4L) == 12 && toks(5L) == 12 && toks(6L) == 12) // minus the 4-word line
    assert(toks(7L) == 6 && toks(8L) == 6) // minus the 10-word span
    assert(toks(11L) == 16)
  }

  test("statsByLang rolls up the cleaned survivors") {
    val got = CurationPipeline.statsByLang(curated).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("de", 2L, 12L, 7L, 8L), ("en", 5L, 68L, 1L, 11L)))
  }
}

/** The planted-defect corpus, shared with CurationStageOutputSpec. */
object CurateFullSpec {
  private val s10 = "sqaa sqbb sqcc sqdd sqee sqff sqgg sqhh sqii sqjj" // shared 10-word span
  val rows: Seq[(Long, String, String)] = Seq(
    // clean survivor (16 words, two "the" stopwords)
    (1L, "en", "the cava cbrn ctig cjmp cwhr cdzn cplt cwtr cstn ccld the criv cgrs csnk cmpl"),
    // gate: too short
    (2L, "en", "the dcat is dsml"),
    // gate: no stopwords
    (3L, "en", "eaaa ebbb eccc eddd eeee efff eggg ehhh eiii ejjj ekkk elll emmm ennn eooo eppp"),
    // boilerplate trio: same first 4-word line, distinct remainders
    (4L, "en", "fclk fher facc fcok the daaa dbbb dccc dddd the deee dfff dggg dhhh diii djjj"),
    (5L, "en", "fclk fher facc fcok the eaa2 ebb2 ecc2 edd2 the eee2 eff2 egg2 ehh2 eii2 ejj2"),
    (6L, "en", "fclk fher facc fcok the faa3 fbb3 fcc3 fdd3 the fee3 fff3 fgg3 fhh3 fii3 fjj3"),
    // span pair: distinct 6-word heads + the same 10-word tail
    (7L, "de", s"the the gaaa gbbb gccc gddd $s10"),
    (8L, "de", s"the the haaa hbbb hccc hddd $s10"),
    // exact duplicate of doc 1 (case + extra spaces): exact stage keeps 1
    (9L, "en", "THE  cava cbrn ctig cjmp cwhr cdzn cplt cwtr cstn ccld the criv cgrs csnk cmpl"),
    // near-dup pair: differ at one position -> 3-gram jaccard 11/17
    (11L, "en", "the jaaa jbbb jccc jddd the jeee jfff jxxx jggg jhhh jiii jjjj jkkk jlll jmmm"),
    (12L, "en", "the jaaa jbbb jccc jddd the jeee jfff jyyy jggg jhhh jiii jjjj jkkk jlll jmmm"),
    // contaminated: contains the eval doc's 5-gram "pack my box with five"
    (13L, "en", "the kaaa kbbb kccc kddd the keee pack my box with five kfff kggg khhh kiii"),
    // eval doc (id % 10 == 0)
    (20L, "en", "pack my box with five dozen liquor jugs")
  )
}
