package graft.operators

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

import GitPack._

/** Git packfile conformance, refereed by `/usr/bin/git`: packs built
  * by real git (repack with delta windows) must decode to exactly the
  * (sha, type, size) census `git cat-file --batch-check` reports, and
  * this file's emitted pack+idx pairs must pass `git verify-pack` and
  * `git index-pack`. */
class GitPackSpec extends AnyFunSuite with TempDirs {

  private val git = new java.io.File("/usr/bin/git")

  private def sh(cwd: Path, cmd: String*): String = {
    val out = new StringBuilder
    val code = Process(cmd, cwd.toFile,
      "GIT_AUTHOR_NAME" -> "a", "GIT_AUTHOR_EMAIL" -> "a@x.test",
      "GIT_COMMITTER_NAME" -> "a", "GIT_COMMITTER_EMAIL" -> "a@x.test",
      "GIT_AUTHOR_DATE" -> "2026-01-01T00:00:00Z",
      "GIT_COMMITTER_DATE" -> "2026-01-01T00:00:00Z")
      .!(ProcessLogger(l => { out ++= l; out += '\n' }, _ => ()))
    assert(code == 0, s"$cmd failed:\n$out")
    out.toString
  }

  /** Build a real repo with delta-friendly history; return its
    * (pack bytes, idx bytes, repo path). */
  private def realRepoPack(): (Array[Byte], Array[Byte], Path) = {
    val dir = tempPath("gitref")
    sh(dir, "git", "init", "-q", ".")
    val big = ("line of stable content %04d\n" * 1)
    val base = (0 until 400).map(i => f"line of stable content $i%04d")
      .mkString("\n") + "\n"
    Files.write(dir.resolve("big.txt"), base.getBytes("UTF-8"))
    Files.write(dir.resolve("readme.md"), "# repo\n".getBytes("UTF-8"))
    sh(dir, "git", "add", ".")
    sh(dir, "git", "commit", "-q", "-m", "c1")
    Files.write(dir.resolve("big.txt"),
      (base + "appended tail line\n").getBytes("UTF-8"))
    sh(dir, "git", "commit", "-q", "-am", "c2")
    Files.write(dir.resolve("big.txt"),
      (base + "appended tail line\nsecond tail\n").getBytes("UTF-8"))
    sh(dir, "git", "commit", "-q", "-am", "c3")
    sh(dir, "git", "repack", "-adq", "--window=10", "--depth=10")
    val packDir = dir.resolve(".git/objects/pack")
    val pack = Files.list(packDir).iterator().asScala
      .find(_.toString.endsWith(".pack")).get
    val idx = Path.of(pack.toString.stripSuffix(".pack") + ".idx")
    (Files.readAllBytes(pack), Files.readAllBytes(idx), dir)
  }

  test("real git packs decode to exactly the cat-file census, " +
      "including resolved delta chains") {
    assume(git.canExecute, "git not in container")
    val (pack, idx, dir) = realRepoPack()
    val objs = packObjects(pack).get
    // git's ground truth: every object's (sha, type, size)
    val truth = sh(dir, "git", "cat-file", "--batch-all-objects",
      "--batch-check=%(objectname) %(objecttype) %(objectsize)")
      .linesIterator.map(_.split(" ")).map(a => (a(0), a(1), a(2).toLong))
      .toSet
    val mine = objs.map(o => (o.sha, o.otype, o.size)).toSet
    assert(mine == truth)
    // the pack deltified something (window 10 over 3 versions)
    assert(objs.exists(_.deltaDepth > 0))
    // git's own idx cross-verifies against our pack decode
    assert(verifyPair(pack, idx))
    // and our re-derived idx is byte-identical to git's
    assert(encodeIdx(pack).exists(_.sameElements(idx)))
  }

  test("own pack+idx pass git verify-pack and git index-pack " +
      "reproduces our idx byte-exactly") {
    assume(git.canExecute, "git not in container")
    val pack = fixturePack(42L, "the quick brown fox " * 30)
    val idx = encodeIdx(pack).get
    val dir = tempPath("gitmine")
    Files.write(dir.resolve("m.pack"), pack)
    Files.write(dir.resolve("m.idx"), idx)
    sh(dir, "git", "verify-pack", "-v", dir.resolve("m.idx").toString)
    // index-pack rebuilds the idx from the pack alone
    Files.write(dir.resolve("n.pack"), pack)
    sh(dir, "git", "index-pack", dir.resolve("n.pack").toString)
    val rebuilt = Files.readAllBytes(dir.resolve("n.idx"))
    assert(rebuilt.sameElements(idx))
  }

  test("emitter/decoder round-trip: fixture pack yields 5 objects, " +
      "one delta chain, git-exact shas for hand-built objects") {
    val text = "content body"
    val pack = fixturePack(7L, text)
    val objs = packObjectsWithContent(pack).get
    assert(objs.length == 5)
    val byType = objs.groupBy(_._1.otype).view.mapValues(_.length).toMap
    assert(byType == Map("blob" -> 3, "tree" -> 1, "commit" -> 1))
    assert(objs.count(_._1.deltaDepth > 0) == 1)
    // the known git blob sha of "MIT\n" (echo 'MIT' | git hash-object --stdin)
    assert(objs.exists(o => o._1.otype == "blob" &&
      new String(o._2, "UTF-8") == "MIT\n"))
    val delta = objs.find(_._1.deltaDepth > 0).get
    assert(new String(delta._2, "UTF-8") == s"7\n$text tail 7")
    // ref_delta form resolves too
    val a = s"7\n$text".getBytes("UTF-8")
    val rp = encodePack(Seq(Full(3, a),
      RefDelta(blobSha(a), buildDelta(a, " more".getBytes("UTF-8")))))
    val robjs = packObjectsWithContent(rp).get
    assert(new String(robjs(1)._2, "UTF-8") == s"7\n$text more")
  }

  test("hostile input: trailer flip, truncation sweep, thin pack, " +
      "declared-size lies, bad delta commands all reject") {
    val pack = fixturePack(3L, "abc " * 50)
    // any flip anywhere breaks the SHA-1 trailer gate
    (0 until pack.length by 11).foreach { k =>
      val bad = pack.clone()
      bad(k) = (bad(k) ^ 1).toByte
      assert(packObjects(bad).isEmpty, s"flip@$k")
    }
    (0 until pack.length by 7).foreach(k => packObjects(pack.take(k)))
    assert(packObjects(null).isEmpty)
    // thin pack: ref_delta against a sha that is not in the pack
    val ghost = "0" * 40
    val thin = encodePack(Seq(
      Full(3, "x".getBytes),
      RefDelta(ghost, Array[Byte](1, 1, 1, 'y'.toByte))))
    assert(packObjects(thin).isEmpty)
    // declared-size lie inside an otherwise fresh pack (re-trailered)
    val lie = encodePack(Seq(Full(3, "hello".getBytes)))
    lie(12) = ((lie(12) & 0xf0) | 0x9).toByte // size 5 -> 9
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(lie, 0, lie.length - 20)
    System.arraycopy(md.digest(), 0, lie, lie.length - 20, 20)
    assert(packObjects(lie).isEmpty)
    // delta with reserved command 0
    val b0 = "base".getBytes
    val badDelta = Array[Byte](4, 5, 0) // src 4, tgt 5, cmd 0
    val dp = encodePack(Seq(Full(3, b0), OfsDelta(0, badDelta)))
    assert(packObjects(dp).isEmpty)
  }

  test("idx validation: fanout monotonicity, sorted names, checksum " +
      "and crc mismatches reject") {
    val pack = fixturePack(9L, "idx test " * 20)
    val idx = encodeIdx(pack).get
    assert(idxEntries(idx).isDefined)
    (0 until idx.length by 13).foreach { k =>
      val bad = idx.clone()
      bad(k) = (bad(k) ^ 1).toByte
      assert(idxEntries(bad).isEmpty, s"flip@$k") // idx trailer catches all
    }
    assert(idxEntries(idx.take(idx.length - 5)).isEmpty)
    assert(idxEntries(null).isEmpty)
    // verifyPair catches a crc swap even when both sides self-validate:
    // rebuild an idx whose crc column is rotated, re-trailered
    val n = packObjects(pack).get.length
    val crcAt = 8 + 1024 + 20 * n
    val rot = idx.clone()
    val first = java.util.Arrays.copyOfRange(rot, crcAt, crcAt + 4)
    System.arraycopy(rot, crcAt + 4, rot, crcAt, 4 * (n - 1))
    System.arraycopy(first, 0, rot, crcAt + 4 * (n - 1), 4)
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(rot, 0, rot.length - 20)
    System.arraycopy(md.digest(), 0, rot, rot.length - 20, 20)
    assert(idxEntries(rot).isDefined) // structurally fine...
    assert(!verifyPair(pack, rot))    // ...but the crcs don't match
  }

  test("loose objects: git-written files decode to matching sha/type/" +
      "content; our loose files are readable by git cat-file") {
    assume(git.canExecute, "git not in container")
    val dir = tempPath("gitloose")
    sh(dir, "git", "init", "-q", ".")
    val payload = "loose content\nwith lines\n"
    Files.write(dir.resolve("f.txt"), payload.getBytes("UTF-8"))
    val sha = sh(dir, "git", "hash-object", "-w", "f.txt").trim
    val obj = dir.resolve(s".git/objects/${sha.take(2)}/${sha.drop(2)}")
    val mine = looseObject(Files.readAllBytes(obj)).get
    assert(mine._1 == sha)
    assert(mine._2 == "blob")
    assert(new String(mine._3, "UTF-8") == payload)
    // other direction: our loose file placed in the object store
    val content = "emitted loose\n".getBytes("UTF-8")
    val mySha = blobSha(content)
    val tgt = dir.resolve(s".git/objects/${mySha.take(2)}")
    Files.createDirectories(tgt)
    Files.write(tgt.resolve(mySha.drop(2)), encodeLoose("blob", content))
    assert(sh(dir, "git", "cat-file", "-p", mySha) == "emitted loose\n")
    // tree and commit parsers agree with git's view of a real commit
    Files.write(dir.resolve("g.txt"), "second\n".getBytes("UTF-8"))
    sh(dir, "git", "add", ".")
    sh(dir, "git", "commit", "-q", "-m", "loose c1")
    val headSha = sh(dir, "git", "rev-parse", "HEAD").trim
    val cObj = dir.resolve(s".git/objects/${headSha.take(2)}/${headSha.drop(2)}")
    val (cs, ct, cc) = looseObject(Files.readAllBytes(cObj)).get
    assert(cs == headSha && ct == "commit")
    val (treeSha, parents, msg) = commitFields(cc).get
    assert(treeSha == sh(dir, "git", "rev-parse", "HEAD^{tree}").trim)
    assert(parents.isEmpty && msg == "loose c1")
    val tObj = dir.resolve(s".git/objects/${treeSha.take(2)}/${treeSha.drop(2)}")
    val tree = looseObject(Files.readAllBytes(tObj)).get
    val entries = treeEntries(tree._3).get
    assert(entries.map(_._2) == Vector("f.txt", "g.txt"))
    // git sorts directory names as name+"/": file `foo.txt` sorts
    // BEFORE subtree `foo` ('.' < '/'), and that tree is VALID
    Files.write(dir.resolve("foo.txt"), "file\n".getBytes("UTF-8"))
    Files.createDirectories(dir.resolve("foo"))
    Files.write(dir.resolve("foo/inner.txt"), "inner\n".getBytes("UTF-8"))
    sh(dir, "git", "add", ".")
    sh(dir, "git", "commit", "-q", "-m", "dir-vs-file ordering")
    val ts2 = sh(dir, "git", "rev-parse", "HEAD^{tree}").trim
    val t2 = looseObject(Files.readAllBytes(
      dir.resolve(s".git/objects/${ts2.take(2)}/${ts2.drop(2)}"))).get
    val e2 = treeEntries(t2._3).get
    assert(e2.map(_._2).containsSlice(Vector("foo.txt", "foo")))
    // a genuinely unsorted tree still rejects
    val swapped = treeContent(e2.reverse.map(e => (e._1, e._2, e._3)))
    assert(treeEntries(swapped).isEmpty)
    // hostile: header lie, truncation, unknown type
    assert(looseObject(encodeLoose("blobx", content)).isEmpty)
    val good = encodeLoose("blob", content)
    (1 until good.length by 2).foreach(k => looseObject(good.take(k)))
    assert(looseObject(null).isEmpty)
  }

  test("bundles: git bundle create output parses here; git clones OUR " +
      "hand-built bundle and reads the commit chain") {
    assume(git.canExecute, "git not in container")
    val dir = tempPath("gitbundle")
    // real bundle -> our parser
    val repo = dir.resolve("src")
    Files.createDirectories(repo)
    sh(repo, "git", "init", "-q", "-b", "main", ".")
    Files.write(repo.resolve("f.txt"), "one\n".getBytes)
    sh(repo, "git", "add", ".")
    sh(repo, "git", "commit", "-q", "-m", "b1")
    Files.write(repo.resolve("f.txt"), "two\n".getBytes)
    sh(repo, "git", "commit", "-q", "-am", "b2")
    sh(repo, "git", "bundle", "create", "../real.bundle", "--all")
    val real = Files.readAllBytes(dir.resolve("real.bundle"))
    val (pre, refs, objs) = bundle(real).get
    assert(pre.isEmpty)
    assert(refs.exists(_._2 == "refs/heads/main"))
    assert(objs.count(_.otype == "commit") == 2)
    val headSha = sh(repo, "git", "rev-parse", "HEAD").trim
    assert(refs.find(_._2 == "refs/heads/main").exists(_._1 == headSha))
    // our bundle -> git clone
    val (pack, head) = fixtureChainPack(5L, "bundle body text", 3)
    Files.write(dir.resolve("ours.bundle"),
      encodeBundle(Seq((head, "refs/heads/main"), (head, "HEAD")), pack))
    sh(dir, "git", "clone", "-q", "ours.bundle", "cloned")
    val cloned = dir.resolve("cloned")
    val log = sh(cloned, "git", "log", "--format=%s")
    assert(log.linesIterator.toSeq ==
      Seq("commit 2 of 5", "commit 1 of 5", "commit 0 of 5"))
    assert(new String(Files.readAllBytes(cloned.resolve("a.txt")), "UTF-8")
      == "5\nbundle body text")
    // hostile: a ref pointing at a missing object rejects
    val ghost = "1234567890abcdef1234567890abcdef12345678"
    assert(bundle(encodeBundle(Seq((ghost, "refs/heads/main")),
      pack)).isEmpty)
    assert(bundle(real.take(real.length / 2)).isEmpty)
    assert(bundle("# v3 git bundle\n\n".getBytes).isEmpty)
  }
}
