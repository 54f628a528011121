package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every materialization in src/main/scala/graft outside `iterate/` goes
  * through `iterate.Fixpoint`, whose scopes and loop core own and release
  * it: a direct checkpoint (eager or lazy, local or reliable), persist,
  * cache or unpersist there would escape them, and a hand release of a
  * checkpoint belongs to the loop core alone. */
class MaterializationLintSpec extends AnyFunSuite {

  private val raw = Seq(".localCheckpoint(", ".checkpoint(", ".persist(", ".cache()",
    ".unpersist(", "unpersistMaterialized(")

  /** Every line under the given layers of `src/main/scala/graft` (`.` is
    * its top-level files) that calls one of the `raw` materialization names. */
  private def directCalls(layers: String*): Seq[String] = {
    val root = new java.io.File("src/main/scala/graft")
    for {
      layer <- layers
      dir = new java.io.File(root, layer)
      _ = assert(dir.isDirectory, s"missing source dir $dir")
      file <- dir.listFiles().toSeq.filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      (line, no) <- scala.io.Source.fromFile(file, "UTF-8").getLines().zipWithIndex.toSeq
      call <- raw if line.contains(call)
    } yield s"$layer/${file.getName}:${no + 1}: $call"
  }

  test("graph, pipeline, ops and streaming materialize only through Fixpoint") {
    val found = directCalls("graph", "pipeline", "ops", "streaming")
    assert(found.isEmpty, found.mkString("direct materialization outside Fixpoint:\n", "\n", ""))
  }

  test("queries materialize only through Fixpoint") {
    val found = directCalls("queries")
    assert(found.isEmpty, found.mkString("direct materialization outside Fixpoint:\n", "\n", ""))
  }

  test("tools materialize only through Fixpoint") {
    val found = directCalls("tools")
    assert(found.isEmpty, found.mkString("direct materialization outside Fixpoint:\n", "\n", ""))
  }

  test("core, functions, plans, apps and the entry points materialize only through Fixpoint") {
    val found = directCalls("core", "functions", "plans", "apps", ".")
    assert(found.isEmpty, found.mkString("direct materialization outside Fixpoint:\n", "\n", ""))
  }
}
