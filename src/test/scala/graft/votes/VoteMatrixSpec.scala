package graft.votes

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.SparkSpec

/** Golden-file test: melt a published vote_data CSV to long form, re-pivot
  * with the engine, byte-compare (SURVEY.md §5 golden data). Only the
  * published corpus can prove that claim, so those tests cancel where it
  * is not mounted; the pivot∘melt property itself runs on the in-repo
  * fixtures in ExportSpec.
  */
class VoteMatrixSpec extends SparkSpec {

  private val ref = VoteFixtures.publishedVoteData.toString

  private def assumeCorpus(): Unit =
    assume(Files.isDirectory(VoteFixtures.publishedVoteData),
      s"published corpus not mounted at $ref")

  private def roundTrip(path: String, year: Int, chamber: Int): Unit = {
    val orig = Files.readAllBytes(Paths.get(path))
    val long = VoteMatrix.melt(spark, path, year, chamber)
    val out = VoteMatrix.toCsvBytes(long)
    assert(out.length == orig.length,
      s"byte length mismatch: got ${out.length}, want ${orig.length}")
    assert(java.util.Arrays.equals(out, orig), "byte content mismatch")
  }

  test("2023 Senate round-trips byte-identically") {
    assumeCorpus()
    roundTrip(s"$ref/2023/Senate.csv", 2023, Chamber.SENATE)
  }

  test("2023 House round-trips byte-identically (dup districts)") {
    assumeCorpus()
    roundTrip(s"$ref/2023/House.csv", 2023, Chamber.HOUSE)
  }

  test("2007 House round-trips byte-identically (largest file, no Party row check)") {
    assumeCorpus()
    roundTrip(s"$ref/2007/House.csv", 2007, Chamber.HOUSE)
  }

  test("ALL 38 published files round-trip byte-identically") {
    assumeCorpus()
    val files = for {
      yearDir <- Files.list(Paths.get(ref)).toArray.map(_.toString).sorted
      y = Paths.get(yearDir).getFileName.toString
      if y.forall(_.isDigit)
      f <- Files.list(Paths.get(yearDir)).toArray.map(_.toString).sorted
      if f.endsWith(".csv")
    } yield (f, y.toInt,
      Chamber.fromLetter(Paths.get(f).getFileName.toString.stripSuffix(".csv")))
    assert(files.length === 38)
    for ((f, y, c) <- files) {
      withClue(s"$f: ") { roundTrip(f, y, c) }
    }
  }

  test("csv parse/format round-trip handles quoting") {
    val line = "\"APPROVAL, OF \"\"X\"\"\",3,2011-01-19,Y\r\n"
    val recs = VoteMatrix.parseCsv(line)
    assert(recs == Vector(Vector("APPROVAL, OF \"X\"", "3", "2011-01-19", "Y")))
    assert(VoteMatrix.formatCsvRow(recs.head) == line)
  }

  test("melt produces expected long shape") {
    val f = VoteFixtures.senateSized
    val long = VoteMatrix.melt(spark, f.path, f.year, f.chamber)
    val roster = long.select("member_idx", "member_name").distinct().count()
    assert(roster >= 50 && roster <= 55) // Senate roster size (BASELINE.md)
    val letters = long.select("letter").distinct().collect().map(_.getString(0)).toSet
    assert(letters.subsetOf(Set("Y", "N", "X", "E", null)))
  }
}
