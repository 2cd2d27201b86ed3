package graft.votes

import java.nio.file.{Files, Path, Paths}

/** Inputs of the votes specs. The in-repo fixtures (FIXTURES.md §2, §4)
  * resolve through the test classpath, so they are found whatever the
  * forked test JVM's working directory. The reference's published corpus
  * and curation file are optional: tests that claim byte identity with
  * the published artifact run only where the reference checkout is
  * mounted, and the property tests add them to their inputs when present.
  */
object VoteFixtures {

  private val reference = Paths.get("/root/reference")
  val publishedVoteData: Path = reference.resolve("vote_data")
  val publishedEdits: Path = reference.resolve("edits.yaml")

  private def resource(name: String): Path =
    Paths.get(getClass.getResource(name).toURI)

  /** hand-written excerpt in the reference's edits.yaml structure */
  val editsYaml: Path = resource("/edits.yaml")

  /** one wide CSV at `<root>/<year>/<House|Senate>.csv` */
  final case class Matrix(root: Path, year: Int, chamber: Int) {
    def rel: String = s"$year/${Chamber.title(chamber)}.csv"
    def path: String = root.resolve(rel).toString
  }

  /** the wide CSV fixtures, written by scripts/make_vote_fixtures.py with
    * Python's csv.writer; years lie outside the published 2007–2025 so no
    * fixture can stand in for a published file
    */
  val matrices: Seq[Matrix] = {
    val root = resource("/vote_fixtures")
    def list(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.toArray.map(_.asInstanceOf[Path]).toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
    for {
      yearDir <- list(root)
      f <- list(yearDir)
    } yield Matrix(root, yearDir.getFileName.toString.toInt,
      Chamber.fromLetter(f.getFileName.toString))
  }

  /** the Senate-sized fixture: 51 roster columns, within a real Senate's */
  val senateSized: Matrix =
    matrices.find(m => m.year == 1995 && m.chamber == Chamber.SENATE).get

  /** a published file, when the reference corpus is mounted */
  def published(year: Int, chamber: Int): Option[Matrix] =
    Some(Matrix(publishedVoteData, year, chamber))
      .filter(m => Files.isRegularFile(Paths.get(m.path)))
}
