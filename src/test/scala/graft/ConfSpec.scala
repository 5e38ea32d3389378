package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Conf is the only place the environment is read: bad values fail
  * at startup naming their variable, and no other main source reads it
  * or builds a session. An unknown ScalingBench leg fails the same way,
  * before a session starts. */
class ConfSpec extends AnyFunSuite {

  test("an empty environment gives the defaults") {
    assert(Conf.parse(Map.empty) ==
      Conf(Runtime.getRuntime.availableProcessors, None))
    assert(Conf.parse(Map(Conf.CpusVar -> "3", Conf.PartsVar -> "16")) ==
      Conf(3, Some(16)))
  }

  test("a non-integer or non-positive value raises an error naming its variable") {
    for (name <- Seq(Conf.CpusVar, Conf.PartsVar); bad <- Seq("abc", "0", "-2")) {
      val e = intercept[IllegalArgumentException](Conf.parse(Map(name -> bad)))
      assert(e.getMessage.contains(name), s"$name=$bad: ${e.getMessage}")
    }
  }

  test("an unknown ScalingBench leg raises an error listing the valid legs") {
    assert(ScalingBench.legs.size == 16)
    assert(ScalingBench.leg("plain").needsGraph)
    val e = intercept[IllegalArgumentException](ScalingBench.leg("no_such_leg"))
    for (name <- ScalingBench.legs.keys)
      assert(e.getMessage.contains(name), s"$name missing: ${e.getMessage}")
  }

  test("only graft/Conf.scala reads the environment under src/main/scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def mentioning(needles: String*): Seq[String] = files(root).filter { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      needles.exists(src.contains)
    }.map(f => root.toPath.relativize(f.toPath).toString.replace('\\', '/'))
    assert(mentioning("sys.env", "System.getenv") == Seq("graft/Conf.scala"))
    // and only Conf builds a session, so every main gets its settings
    assert(mentioning("SparkSession.builder") == Seq("graft/Conf.scala"))
  }
}
