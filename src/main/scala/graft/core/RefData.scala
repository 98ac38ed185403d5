package graft.core

import java.nio.file.{Files, Path, Paths}

/** The reference checkout's files the engine reads, named in one place:
  * the gazetteer, the Oromo lexicon and the English CoNLL splits.
  * Reading a missing one raises [[RefData.Missing]], which names the
  * input and its absolute path.
  */
object RefData {

  final case class Input(name: String, path: Path) {
    /** The path, checked to exist. */
    def existing: String =
      if (Files.isRegularFile(path)) path.toString
      else throw Missing(name, path.toAbsolutePath.toString)
  }

  /** Plain string fields: test runners and Spark serialize exceptions. */
  final case class Missing(input: String, absolutePath: String)
      extends java.io.FileNotFoundException(
        s"reference input '$input' is missing: $absolutePath")

  private val root = Paths.get("/root/reference")

  val gaz: Input = Input("gaz", root.resolve("utils/gaz.csv"))
  val ormLexicon: Input =
    Input("orm lexicon", root.resolve("utils/orm_norm/orm_lexicon.txt"))
  /** eng CoNLL splits; GRAFT_ENG_TRAIN / GRAFT_ENG_TEST point a fit or
    * train run at a copied corpus. */
  val engTrain: Input = Input("eng train CoNLL", Paths.get(sys.env.getOrElse(
    "GRAFT_ENG_TRAIN", s"$root/datasets/english/eng.train.bio.conll")))
  val engTest: Input = Input("eng test CoNLL", Paths.get(sys.env.getOrElse(
    "GRAFT_ENG_TEST", s"$root/datasets/english/eng.test.bio.conll")))
}
