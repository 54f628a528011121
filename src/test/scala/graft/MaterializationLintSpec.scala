package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every materialization in the engine's operator layers goes through
  * `iterate.Fixpoint`, whose scopes own and release it: a direct eager
  * checkpoint, persist or unpersist there would escape the scope. */
class MaterializationLintSpec extends AnyFunSuite {

  test("graph, pipeline, ops and streaming materialize only through Fixpoint") {
    val root = new java.io.File("src/main/scala/graft")
    val raw = Seq(".localCheckpoint(eager = true)", ".persist(", ".unpersist(")
    val found = for {
      layer <- Seq("graph", "pipeline", "ops", "streaming")
      dir = new java.io.File(root, layer)
      _ = assert(dir.isDirectory, s"missing source dir $dir")
      file <- dir.listFiles().toSeq.filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      (line, no) <- scala.io.Source.fromFile(file, "UTF-8").getLines().zipWithIndex.toSeq
      call <- raw if line.contains(call)
    } yield s"$layer/${file.getName}:${no + 1}: $call"
    assert(found.isEmpty, found.mkString("direct materialization outside Fixpoint:\n", "\n", ""))
  }
}
