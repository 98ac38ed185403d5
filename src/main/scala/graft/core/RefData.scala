package graft.core

import java.nio.file.{Files, Path, Paths}

/** The reference checkout's files the engine reads, named in one place:
  * the gazetteer, the Oromo lexicon and the English CoNLL splits.
  * Reading a missing one raises [[RefData.Missing]], which names the
  * input, its absolute path and the `GRAFT_REF_ROOT` variable that
  * points the engine at another checkout.
  */
object RefData {

  final case class Input(name: String, path: Path) {
    /** The path, checked to exist. */
    def existing: String =
      if (Files.isRegularFile(path)) path.toString
      else throw Missing(name, path.toAbsolutePath.toString)
  }

  /** The environment variable that overrides the checkout's root. */
  val RootVar = "GRAFT_REF_ROOT"

  /** Plain string fields: test runners and Spark serialize exceptions. */
  final case class Missing(input: String, absolutePath: String)
      extends java.io.FileNotFoundException(
        s"reference input '$input' is missing: $absolutePath " +
          s"(set $RootVar to the reference checkout)")

  /** The default checkout root. */
  private val root = Paths.get("/root/reference")

  /** The checkout root: `$GRAFT_REF_ROOT` when set, else the default. */
  def rootFrom(env: Map[String, String]): Path =
    env.get(RootVar).fold(root)(Paths.get(_))

  private val checkout = rootFrom(sys.env)

  val gaz: Input = Input("gaz", checkout.resolve("utils/gaz.csv"))
  val ormLexicon: Input = Input("orm lexicon",
    checkout.resolve("utils/orm_norm/orm_lexicon.txt"))
  /** eng CoNLL splits; GRAFT_ENG_TRAIN / GRAFT_ENG_TEST point a fit or
    * train run at a copied corpus. */
  val engTrain: Input = Input("eng train CoNLL", Paths.get(sys.env.getOrElse(
    "GRAFT_ENG_TRAIN", s"$checkout/datasets/english/eng.train.bio.conll")))
  val engTest: Input = Input("eng test CoNLL", Paths.get(sys.env.getOrElse(
    "GRAFT_ENG_TEST", s"$checkout/datasets/english/eng.test.bio.conll")))
}
