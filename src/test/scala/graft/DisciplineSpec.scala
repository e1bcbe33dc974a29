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

  test("driver-side collect() stays confined to the twelve audited sites") {
    // .collect() of row DATA on the driver is the anti-distributed smell;
    // the audited sites are CLI display (x2: the menu and the audit report
    // both modes print — over the wire the menu is a PUSHED composite
    // aggregation, so the collect is O(topK) bucket rows, and the audit is
    // O(days); both are the reference's own UX), the
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
    // table; over-budget graphs run the distributed loop unchanged,
    // plus the export audit's per-day window counts (Pipeline.scala) —
    // one row per day of the export window, O(days) like the CLI's audit
    // collect, joined on the driver with the committed footers' row counts.
    // Scalar .head() pulls are fine and not counted.
    val sites   = hits("""\.collect\(\)""")
    val allowed = Set("Cli.scala", "operators/Chunking.scala", "operators/Curation.scala", "Probe.scala",
      "sources/es/EsStubServer.scala", "operators/Graph.scala", "Pipeline.scala")
    val strays  = sites.filterNot(s => allowed.exists(s.startsWith))
    assert(strays.isEmpty, s"new driver collect() site — justify and allowlist or redesign:\n${strays.mkString("\n")}")
    assert(sites.size <= 12, s"collect() sites grew within allowed files: $sites")
  }

  test("one day-partitioned writer: partitionBy(day) at one site, no partition overwrite mode") {
    // ParquetSink.writeByDay owns the day layout, the staged publish and the
    // footer audit; a second writer would publish without them
    val sites = hits("""partitionBy\("day"\)""")
    assert(sites.size == 1 && sites.forall(_.startsWith("sources/ParquetSink.scala")),
      s"partitionBy(\"day\") outside ParquetSink.writeByDay:\n${sites.mkString("\n")}")
    val overwrites = hits("partitionOverwriteMode")
    assert(overwrites.isEmpty, s"dynamic partition overwrite:\n${overwrites.mkString("\n")}")
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
    // one audited line: twoPhaseComponents releases a superseded round's
    // local checkpoint, whose RDD only the checkpointed plan holds (no
    // Dataset API unpersists a local checkpoint); it computes nothing
    val sites = hits("""\.rdd\b""",
      exceptLines = Set("operators/Graph.scala" -> "case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd"))
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

  test("no Hadoop listFiles or listLocatedStatus in main code") {
    // both build LocatedFileStatus, which loads each local file's
    // permissions, and without libhadoop that forks `ls -ld` once per file
    // (92 forks in one query_mix pass through Tables.parquetSchema);
    // listStatus reads the same paths, lengths and times fork-free.
    // java.io.File.listFiles() takes no path and is not matched.
    val sites = hits("""\.listFiles\([^)]+,|\.listLocatedStatus\(""")
    assert(sites.isEmpty, s"forking directory walk (use listStatus):\n${sites.mkString("\n")}")
  }

  test("one page loop decodes every ES hit: decodeHit has one call site, in EsHitsReader") {
    // the scroll, PIT and top-N readers each once had their own copy of
    // the page loop; a reader that decodes hits itself forks it again, and
    // the malformed-hit skip, the pushed limit and every per-response
    // check or counter added to the loop would need a copy in each
    val file  = "sources/es/EsScrollSource.scala"
    val calls = hits("""(?<!def )decodeHit\(""")
    assert(calls.size === 1 && calls.head.startsWith(s"$file:"), s"decodeHit call sites: $calls")
    val line  = calls.head.stripPrefix(s"$file:").toInt
    val owner = mainSources.toMap.apply(file).take(line).reverseIterator
      .flatMap(l => """^(?:private |abstract )*class (\w+)""".r.findFirstMatchIn(l).map(_.group(1)))
      .nextOption()
    assert(owner.contains("EsHitsReader"), s"decodeHit is called in $owner, not the shared page loop")
  }

  test("no ES query in main code is a match_phrase: string equality is one exact term path") {
    // an analyzed match_phrase over-matches exact equality, so it could
    // only ever be pushed with Spark re-filtering its result; the connector
    // instead serves analyzed text fields by not pushing the equality
    val sites = hits("\"match_phrase\"")
    assert(sites.isEmpty, s"match_phrase query built or evaluated in main code:\n${sites.mkString("\n")}")
  }

  test("one JSON inference path: no read.json( anywhere in src/main") {
    // schema inference of JSON strings goes through SchemaInfer.infer, which
    // types the driver-side samples without a Spark job; a reader-based
    // inference is a second path with its own job per call. A read with a
    // given schema (`read.schema(st).json(`) infers nothing and does not match.
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val sites =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("read.json(") => s"$p:${i + 1}"
        }
      } finally walk.close()
    assert(sites.isEmpty, s"reader-based JSON inference:\n${sites.mkString("\n")}")
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
