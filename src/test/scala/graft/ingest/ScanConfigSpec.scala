package graft.ingest

import java.nio.file.{FileVisitResult, Files, NoSuchFileException, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig
import graft.streaming.FileWatchSource

class ScanConfigSpec extends AnyFunSuite {

  test("included: wildcard admits all; globs match path or basename") {
    def surface(includes: String*) = SourceScan.Surface(GraftConfig(includes = includes))
    assert(surface("*").included("a/b/c.py"))
    assert(surface("*.py").included("a/b/c.py"))
    assert(!surface("*.py").included("a/b/c.js"))
    assert(surface("*.py", "*.md").included("src/x.md"))
  }

  test("GraftConfig drives the file walk: includes, excludes, size cap") {
    val root = Files.createTempDirectory("graft_cfg").toString
    Files.createDirectories(Paths.get(root, "node_modules"))
    Files.createDirectories(Paths.get(root, "src"))
    Files.createDirectories(Paths.get(root, ".github"))
    Files.writeString(Paths.get(root, "src/a.py"), "x = 1\n")
    Files.writeString(Paths.get(root, "src/b.js"), "var x = 1\n")
    Files.writeString(Paths.get(root, "src/big.py"), "y = 2\n" * 50)
    Files.writeString(Paths.get(root, "src/huge.py"), "# " + "z" * (1 << 20) + "\n")
    Files.writeString(Paths.get(root, "src/image.bin"), " ")
    Files.writeString(Paths.get(root, "node_modules/dep.js"), "ignored\n")
    Files.writeString(Paths.get(root, ".github/ci.py"), "def ci():\n    return 0\n")

    val all = SourceScan.listFiles(root, GraftConfig()).map(_._1)
    assert(all.contains("src/a.py") && all.contains("src/b.js"))
    assert(!all.exists(_.startsWith("node_modules/"))) // default excludes
    assert(all.contains(".github/ci.py")) // dot directories are not excluded by default
    assert(!all.contains("src/huge.py") && !all.contains("src/image.bin")) // size cap, parser registry

    val pyOnly = SourceScan.listFiles(root, GraftConfig(includes = Seq("*.py"))).map(_._1)
    assert(pyOnly.forall(_.endsWith(".py")) && pyOnly.contains("src/a.py"))

    val small = SourceScan.listFiles(root, GraftConfig(maxFileSize = 20)).map(_._1)
    assert(small.contains("src/a.py") && !small.contains("src/big.py"))

    // one walker, one surface: the watch snapshot lists exactly the batch scan's files
    for (config <- Seq(GraftConfig(), GraftConfig(includes = Seq("*.py")), GraftConfig(maxFileSize = 20),
                       GraftConfig(excludes = Seq(".github/"))))
      assert(FileWatchSource.snapshot(root, Map.empty, config).map(_.relPath) ==
        SourceScan.listFiles(root, config).map(_._1))
  }

  test("walker: a vanished entry below the root is skipped; a missing root fails") {
    val root = Files.createTempDirectory("graft_walk")
    val walker = new SourceScan.Walker(root, SourceScan.Surface(GraftConfig()))
    val gone = root.resolve("gone.py")
    assert(walker.visitFileFailed(gone, new NoSuchFileException(gone.toString)) == FileVisitResult.CONTINUE)
    assert(walker.postVisitDirectory(root.resolve("sub"), new NoSuchFileException("sub")) ==
      FileVisitResult.CONTINUE)
    intercept[NoSuchFileException](walker.visitFileFailed(root, new NoSuchFileException(root.toString)))
    intercept[NoSuchFileException](SourceScan.listFiles(root.resolve("missing").toString, GraftConfig()))
    assert(FileWatchSource.snapshot(root.resolve("missing").toString).isEmpty)
  }
}
