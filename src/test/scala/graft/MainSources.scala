package graft

/** The library's Scala sources, for specs that check the code itself. */
object MainSources {
  val root = new java.io.File("src/main/scala")

  def files: Seq[java.io.File] = {
    assert(root.isDirectory, s"library sources not found under ${root.getAbsolutePath}")
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(root).filter(_.getName.endsWith(".scala"))
  }

  def text(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }
}
