package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Mechanical tripwires for the repo's scale disciplines. Each of these
  * invariants was established by review and is easy to silently regress in
  * a new operator; the grep-level checks turn "discipline" into a failing
  * test. Allowlists are by FILE and justification — adding a site means
  * consciously extending the list, not slipping past review. (The grid
  * capacity tripwire lives in GridOverflowSpec; the plan-shape blanket in
  * CorpusPlanSweepSpec.)
  */
class DisciplineSpec extends AnyFunSuite {

  private def mainSources: Seq[(String, Seq[String])] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    require(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root not found")
    val walk = java.nio.file.Files.walk(root)
    // keys are ROOT-RELATIVE paths (operators/Dedup.scala), not bare file
    // names — a bare-name allowlist would exempt any same-named file
    // anywhere under graft/
    try walk
      .iterator()
      .asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p =>
        root.relativize(p).toString.replace('\\', '/') ->
          java.nio.file.Files.readAllLines(p).asScala.toSeq
      )
      .toSeq
    finally walk.close()
  }

  /** `file:line` of every non-comment line matching `pattern`, except in
    * files (or `file:line` prefixes) named in `except` and on the exact
    * (trimmed) lines named per file in `exceptLines` — a content key that
    * survives edits elsewhere in the file. */
  private def hits(
      pattern: String,
      except: Set[String] = Set.empty,
      exceptLines: Set[(String, String)] = Set.empty
  ): Seq[String] = {
    val pat = java.util.regex.Pattern.compile(pattern)
    mainSources.flatMap { case (name, lines) =>
      lines.zipWithIndex.collect {
        case (l, i)
            if pat.matcher(l).find() && !l.trim.startsWith("//") && !l.trim.startsWith("*") &&
              !exceptLines.contains(name -> l.trim) =>
          s"$name:${i + 1}"
      }
    }.filterNot(h => except.exists(h.startsWith))
  }

  test("no fixed-name session-global temp views (UUID-suffix discipline)") {
    // createOrReplaceTempView("literal") is session-global: two concurrent
    // queries binding the same name race. Every view name must be a
    // UUID-suffixed variable (the `sfx` pattern, Advanced/Graph).
    val fixed = hits("""createOrReplaceTempView\("""")
    assert(fixed.isEmpty, s"fixed-name temp views (use the UUID sfx pattern):\n${fixed.mkString("\n")}")
  }

  test("driver-side collect() stays confined to the thirteen audited sites") {
    // .collect() of row DATA on the driver is the anti-distributed smell;
    // the audited sites are CLI display (x4: the parquet-mode menu+audit
    // pair and the --es wire-mode menu+audit pair — the wire menu is a
    // PUSHED composite aggregation, so the collect is O(topK) bucket rows,
    // and the audit is O(days); both are the reference's own UX), the
    // per-BUCKET scalar fold in the two-pass prefix sum (bounded by
    // shuffle-partition count, Chunking.scala:96 doc), the BPE
    // learner's capped word-frequency table (bounded by BpeVocabCap —
    // the HF-tokenizers/SentencePiece architecture, Curation.scala doc),
    // the quality classifier's per-round weight vector (x2, bounded by
    // QcBuckets+1 = 64 longs — the q157 training loop's driver state,
    // Curation.scala doc), the scalestream probe's cross-backend
    // registry equality check AND (r18) its window-registry sibling —
    // the win-ttl flag-emission identity compare — AND (r19) the
    // img-ttl image-gate sibling (all three probe-only diagnostics,
    // bounded by the probe's own synthetic corpus — never a
    // production path), plus the
    // ES stub server's seed (EsStubServer.fromDataFrame — the TEST DOUBLE
    // impersonating the external cluster that owns the data; the engine
    // path is the HTTP read through EsScrollSource, fixture-bounded by
    // construction), plus (r20) the autoComponents driver fast path's edge
    // collect (Graph.scala) — BUDGET-GUARDED by CcDriverEdgeBudget = 2e6
    // (src, dst) pairs ≈ 32 MB, the broadcast-build-side class, taken only
    // when the caller already paid to materialize AND count the pair
    // table; over-budget graphs run the distributed loop unchanged.
    // Scalar .head() pulls are fine and not counted.
    val sites   = hits("""\.collect\(\)""")
    val allowed = Set("Cli.scala", "operators/Chunking.scala", "operators/Curation.scala", "Probe.scala",
      "sources/es/EsStubServer.scala", "operators/Graph.scala")
    val strays  = sites.filterNot(s => allowed.exists(s.startsWith))
    assert(strays.isEmpty, s"new driver collect() site — justify and allowlist or redesign:\n${strays.mkString("\n")}")
    assert(sites.size <= 13, s"collect() sites grew within allowed files: $sites")
  }

  test("no Scala UDFs; the single typed-Aggregator UDAF is the declared surface") {
    // functions-not-UDFs: a scala udf() blocks codegen and Catalyst
    // optimization. The one udaf(GeoMean) is the deliberate UDAF-surface
    // demonstration (q33); scalar extensions go through StaticInvoke
    // kernels (functions/Kernels.scala) instead.
    assert(hits("""\budf\(""").isEmpty, "scala udf() found — use a kernel or built-ins")
    val udafs = hits("""\budaf\(""")
    assert(
      udafs.size <= 1 && udafs.forall(_.startsWith("operators/Advanced.scala")),
      s"udaf outside the declared GeoMean site: $udafs"
    )
  }

  test("imperative per-partition loops stay confined to the codec surfaces") {
    // the only justified imperative per-partition loops are codec
    // call-outs (genuinely non-SQL): the real ImageIO/AudioSystem
    // encode/decode batches in Multimodal, and the Avro container
    // encode/decode in AvroData;
    // everything else must be declarative so Catalyst can see through it
    val sites = hits(
      """\.(mapPartitions|foreachPartition)""",
      except = Set("operators/Multimodal.scala", "sources/AvroData.scala")
    )
    assert(sites.isEmpty, s"per-partition loop outside the codec surfaces:\n${sites.mkString("\n")}")
  }

  test("no raw RDD usage in operators (DataFrame/Dataset only)") {
    val sites = hits("""\.rdd\b""")
    assert(sites.isEmpty, s"raw .rdd usage:\n${sites.mkString("\n")}")
  }

  test("recursive scratch-dir deletes go through the one shared helper") {
    // SEVEN hand-rolled recursive-delete blocks existed before the round-9
    // review extracted ParquetSink.deleteRecursively — including one
    // variant (AuditSink, toSeq.reverse) that an idiom-level grep for
    // Comparator.reverseOrder missed. Grep for the BEHAVIOR instead: any
    // Files.walk outside the helper is a tree traversal that should be
    // the helper (delete) or a deliberate read traversal to allowlist.
    // A future fix — e.g. symlink handling — must have one place to land.
    val sites = hits(
      """Files\.walk""",
      // Session.sizeShufflesForInput's walk is a deliberate READ-ONLY
      // directory-size traversal (the input-sized AQE fan-out), not a
      // delete; Probe.buildStamp's walk (r18) is a READ-ONLY class-file
      // fingerprint digest (path:size:mtime over the code source — the
      // r17 ADVICE zinc-incremental fix) — the two allowlisted
      // non-helper walks. The stamp site is keyed by its line's content,
      // so any OTHER Probe walk lands here for review.
      except = Set("sources/ParquetSink.scala", "Session.scala"),
      exceptLines = Set("Probe.scala" -> "val walk  = java.nio.file.Files.walk(base)")
    )
    assert(sites.isEmpty, s"inline Files.walk — use ParquetSink.deleteRecursively (or allowlist a read-only walk):\n${sites.mkString("\n")}")
  }

  test("every fixture table read goes through Tables") {
    // Tables fixes the fixture's type quirks in one place and infers each
    // table's schema once per JVM; a direct read of a fixture file pays
    // the inference job again on every call
    val sites = hits("""\.parquet\(s"\$\{?sfDir\}?/""")
    assert(sites.isEmpty, s"fixture read outside Tables:\n${sites.mkString("\n")}")
  }

  test("operators read no environment variables") {
    // an operator's result and plan depend on its inputs and the session
    // conf only: a sys.env read is a hidden option that no test, oracle or
    // benchmark run sets
    val sites = hits("""sys\.env|System\.getenv""").filter(_.startsWith("operators/"))
    assert(sites.isEmpty, s"environment read in an operator:\n${sites.mkString("\n")}")
  }

  test("tools/run_probe.sh opens the same JDK packages as build.sbt") {
    // the launcher copies build.sbt's forked javaOptions; a package added
    // to one list and not the other fails only at run time, in whichever
    // Spark code path first reflects into it
    def read(p: String) = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    val sbtList = """(?s)val jdk17AddOpens = Seq\((.*?)\)""".r
      .findFirstMatchIn(read("build.sbt")).map(_.group(1)).getOrElse(fail("no jdk17AddOpens in build.sbt"))
    val fromSbt = """"java\.base/([\w.]+)"""".r.findAllMatchIn(sbtList).map(_.group(1)).toSeq
    val script  = read("tools/run_probe.sh")
    val shList = """(?s)for p in (.*?); do""".r
      .findFirstMatchIn(script).map(_.group(1)).getOrElse(fail("no package loop in tools/run_probe.sh"))
    val fromSh = shList.replace("\\\n", " ").split("\\s+").filter(_.nonEmpty).toSeq
    assert(fromSbt.nonEmpty)
    assert(fromSh === fromSbt)
    assert(script.contains("--add-opens java.base/$p=ALL-UNNAMED"))
  }
}
