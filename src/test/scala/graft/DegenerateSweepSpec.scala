package graft

import java.nio.file.Files

/** Whole-surface degenerate sweep (round-8 hardening): run EVERY
  * registered query against every adversarial table set in
  * [[DegenTables]] (one test per set below) and assert none throws.
  * This is the shotgun that would have caught all four of round 8's
  * crash classes (ANSI divide-by-zero in ten closed forms, the
  * quantizer's zero dynamic range, out-of-bounds element_at on short
  * docs, the Benford "-" cast) before a user hit them.
  *
  * No output values are asserted here — value-level parity on the same
  * three sets is the round-9 oracle sweep (tools/degen_preflight.sh →
  * DEGENERATE_PREFLIGHT_r{N}.log); this suite pins only "no input shaped
  * like this kills the job", cheaply, on every `sbt test`.
  */
class DegenerateSweepSpec extends SparkSpec {

  private def sweep(dir: String): Seq[(String, String)] =
    Registry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try { q(spark, dir).collect(); None }
      catch { case e: Throwable =>
        Some(name -> e.toString.linesIterator.take(1).mkString) }
    }

  /** NaN/Infinity audit for the zero-variance sets (tiny's n=1 arm,
    * constant's 0.0 arm). The DuckDB parity sweep proved every guarded
    * ratio yields NULL there — DuckDB's /0 is NULL, so a Spark NaN could
    * only survive by hash-matching a DuckDB NaN, which the green sweep
    * shows there isn't. Pinning it Spark-side on every `sbt test` means
    * a dropped nullif can't sit unnoticed between the once-per-round
    * shell sweeps. Deep-walks nested arrays/structs/maps. NOT applied to
    * extremes (±1e30 double arithmetic can produce a legitimate Inf that
    * both engines agree on — parity there does not imply finiteness).
    */
  private def assertNoNonFinite(dir: String): Unit = {
    def nonFinite(v: Any): Boolean = v match {
      case null => false
      case x: Double => x.isNaN || x.isInfinite
      case x: Float => x.isNaN || x.isInfinite
      case r: org.apache.spark.sql.Row => r.toSeq.exists(nonFinite)
      case xs: scala.collection.Seq[_] => xs.exists(nonFinite)
      case m: scala.collection.Map[_, _] => m.valuesIterator.exists(nonFinite)
      case _ => false
    }
    val poisoned = Registry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val bad = q(spark, dir).collect().iterator.flatMap { row =>
        (0 until row.length).iterator.collect {
          case i if nonFinite(row.get(i)) => row.schema.fields(i).name
        }
      }.toSet
      if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(",")}")
    }
    assert(poisoned.isEmpty,
      s"NaN/Infinity leaked through a zero-variance guard:\n${poisoned.mkString("\n")}")
  }

  test("every registered query survives the tiny degenerate tables") {
    val d = Files.createTempDirectory("graft-degen-tiny-").toString
    DegenTables.writeTiny(spark, d)
    val failures = sweep(d)
    assert(failures.isEmpty,
      s"queries crashed on degenerate rows:\n${failures.mkString("\n")}")
    assertNoNonFinite(d) // tiny = the n=1 zero-variance arm
  }

  test("every registered query survives completely empty tables") {
    val d = Files.createTempDirectory("graft-degen-empty-").toString
    DegenTables.writeEmpty(spark, d)
    val failures = sweep(d)
    assert(failures.isEmpty,
      s"queries crashed on empty tables:\n${failures.mkString("\n")}")

    // Positive pin of the Spark half of this set's three declared
    // divergences (round 14, same philosophy as the extremes loud-throw
    // enforcement): the SQL standard emits the () grand-total row over
    // an empty relation (DuckDB does), Spark's Expand+Aggregate emits
    // ZERO rows. expected_for(empty) only forgives the mismatch — if a
    // future Spark adopted the standard row, the sweep would quietly
    // pass and the declared list would go stale; this surfaces it.
    for (q <- Seq("agg_rollup", "agg_cube", "agg_grouping_sets"))
      assert(Registry.queries(q)(spark, d).count() === 0L,
        s"$q now emits rows over an empty relation (the SQL-standard " +
          "grand-total row?) — de-list it from degen_preflight.sh " +
          "expected_for(empty) and update its QueryDef divergence note")
  }

  /** Third variant: one row per table with NULL in every non-key column
    * (keys stay non-null so joins still resolve), plus one healthy row so
    * aggregates see data. split(NULL), explode(NULL), percentile over
    * NULL-heavy groups, NULL timestamps through window sorts — the shapes
    * a 100 TB ingest WILL eventually contain.
    */
  test("every registered query survives NULLs in all non-key columns") {
    val d = Files.createTempDirectory("graft-degen-null-").toString
    DegenTables.writeNulls(spark, d)
    val failures = sweep(d)
    assert(failures.isEmpty,
      s"queries crashed on NULL-laden rows:\n${failures.mkString("\n")}")
  }

  /** Fourth variant (round 10): multibyte text — accents, CJK, non-BMP
    * emoji (4-byte UTF-8 / surrogate pairs), combining marks, final-sigma
    * casing, RTL — through every tokenizer, regex, hash, and dedup path.
    * A web-scale corpus is full of this; the ASCII driver fixtures never
    * reach it. Value-level cross-engine parity on the same set is the
    * degen_preflight.sh oracle sweep.
    */
  test("every registered query survives multibyte unicode text") {
    val d = Files.createTempDirectory("graft-degen-unicode-").toString
    DegenTables.writeUnicode(spark, d)
    val failures = sweep(d)
    assert(failures.isEmpty,
      s"queries crashed on unicode text:\n${failures.mkString("\n")}")

    // Seam companions (house teeth convention): the fixture must keep the
    // shapes the set exists for — an edit can't silently defang the sweep.
    val texts = spark.read.parquet(s"$d/documents.parquet")
      .select("text").collect().flatMap(r => Option(r.getString(0)))
    assert(texts.exists(_.exists(_.isSurrogate)),
      "fixture lost its non-BMP (surrogate-pair) text")
    assert(texts.exists(_.contains('́')),
      "fixture lost its combining-mark text")
    assert(texts.exists(t => t.contains('Σ') && t.contains('ς')),
      "fixture lost the capital-sigma/final-sigma casing context")
    assert(texts.exists(_.exists(c => c >= '֐' && c <= '׿')),
      "fixture lost its RTL Hebrew text")
    assert(texts.exists(_.exists(c => c >= '぀' && c <= '鿿')),
      "fixture lost its CJK text")
    assert(texts.groupBy(identity).exists(_._2.length > 1),
      "fixture lost the exact-duplicate unicode pair")
    assert(texts.exists(t => t.getBytes("UTF-8").length > t.codePointCount(0, t.length)),
      "fixture lost multibyte text entirely (bytes == code points everywhere)")

    // Positive pin of the Spark half of this set's declared divergence
    // (round 14): Spark's levenshtein counts CODE POINTS (café→cafe is
    // one edit), DuckDB's counts UTF-8 bytes (two). expected_for(unicode)
    // only forgives fn_levenshtein's parity failure — if a future Spark
    // switched to byte counting the sweep would quietly pass and the
    // declared divergence would go stale; this surfaces it.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein}
    assert(Seq(("café", "cafe")).toDF("a", "b")
      .select(levenshtein(col("a"), col("b"))).head().getInt(0) === 1,
      "Spark's levenshtein no longer counts code points — de-list " +
        "fn_levenshtein from degen_preflight.sh expected_for(unicode) " +
        "and update its QueryDef divergence note")
  }

  /** Fifth variant (round 11): ±1e30-class doubles — the decimal-overflow
    * posture, both directions. Queries whose FINAL rounding sites see the
    * poison must survive (try_cast → NULL); queries that decimal-cast a
    * poisoned column INSIDE an aggregation must fail LOUDLY with the ANSI
    * overflow error ([[DegenTables.extremesLoudQueries]]) — the set
    * equality is the teeth: a query silently going quiet (someone
    * try_cast-ing an agg input) or newly dying (a final site losing its
    * try_cast) both fail this test. Cross-engine value parity on the same
    * set is the degen_preflight.sh oracle sweep.
    */
  test("extremes: final-round sites survive, agg-input casts die loudly") {
    val d = Files.createTempDirectory("graft-degen-extremes-").toString
    DegenTables.writeExtremes(spark, d)
    val failures = sweep(d)
    assert(failures.map(_._1).toSet == DegenTables.extremesLoudQueries,
      s"extremes posture drifted — expected exactly " +
        s"${DegenTables.extremesLoudQueries.toSeq.sorted.mkString(",")}, got:\n" +
        failures.mkString("\n"))
    failures.foreach { case (name, err) =>
      assert(err.contains("NUMERIC_VALUE_OUT_OF_RANGE"),
        s"$name died of something other than the documented decimal " +
          s"overflow: $err")
    }

    // Seam companions: the fixture must keep the shapes the set exists for.
    val vals = spark.read.parquet(s"$d/events.parquet")
      .select("value").collect().map(_.getDouble(0))
    assert(vals.exists(v => math.abs(v) >= 1e30),
      "fixture lost its past-decimal(38,10)-range value")
    assert(vals.exists(v => v != 0 && math.abs(v) <= 1e-28),
      "fixture lost its underflow-to-zero probe value")
    val bals = spark.read.parquet(s"$d/customer.parquet")
      .select("c_acctbal").collect().map(_.getDouble(0))
    assert(bals.exists(_ >= 1e30) && bals.exists(_ <= -1e30),
      "fixture lost its poisoned account balances")
    // lineitem/orders money columns must STAY sane: the sumDec/sumMoney
    // loud paths are meant to keep passing on this set, not to be tested
    // by it — poisoning them here would silently convert 30+ green parity
    // rows into expected failures.
    val money = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_extendedprice").collect().map(_.getDouble(0))
    assert(money.forall(m => math.abs(m) < 1e13),
      "lineitem money columns must stay within decimal(18,4) range")

    // Positive pin of the Spark half of this set's one declared VALUE
    // divergence (round 14, completing the pin program: empty, unicode
    // and control got theirs earlier this round): past 2^53, Java's
    // Formatter %f renders the SHORTEST decimal for a double while C
    // printf (DuckDB) renders the exact binary expansion.
    // expected_for(extremes) only forgives fn_format's parity failure —
    // if a future JDK/Spark switched to the exact expansion the sweep
    // would quietly pass and the declared list would go stale.
    import spark.implicits._
    import org.apache.spark.sql.functions.{format_string, lit}
    assert(Seq(1).toDF("x")
      .select(format_string("%08.2f", lit(1e30)).as("f"))
      .head().getString(0) === "1000000000000000000000000000000.00",
      "Java %f no longer shortest-rounds a >2^53 double — de-list " +
        "fn_format from DegenTables.extremesExpectedDivergences / " +
        "degen_preflight.sh expected_for(extremes) and update its " +
        "QueryDef divergence note")
  }

  /** Sixth variant (round 11): hot-key skew. Survival plus the teeth the
    * verdict asked for: the fixture must actually ENGAGE the df guard
    * (hot-token document frequency above [[graft.llm.Dedup.DfBound]], a
    * nonzero guard-dropped posting count) and the guarded pair join must
    * still emit pairs — otherwise an innocent fixture edit converts the
    * set into an ordinary small corpus and the sweep proves nothing.
    * Cross-engine parity of the guard-engaged path is the
    * degen_preflight.sh oracle sweep over this same set.
    */
  test("skew: queries survive hot keys and the df guard visibly engages") {
    val d = Files.createTempDirectory("graft-degen-skew-").toString
    DegenTables.writeSkew(spark, d)
    val failures = sweep(d)
    assert(failures.isEmpty,
      s"queries crashed on hot-key skew:\n${failures.mkString("\n")}")

    import org.apache.spark.sql.functions._
    val postings = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
    val dfs = postings.groupBy("lang", "source", "tok").count()
    val hotDf = dfs.agg(max("count")).head().getLong(0)
    assert(hotDf > graft.llm.Dedup.DfBound,
      s"fixture lost its hot posting list (max df $hotDf <= bound " +
        s"${graft.llm.Dedup.DfBound}) — the guard never engages")
    val dropped = dfs.filter(col("count") > graft.llm.Dedup.DfBound)
      .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
    assert(dropped > 0, "guard-dropped posting count must be nonzero")
    val pairs = graft.llm.Dedup.tokenPairs(
      spark.read.parquet(s"$d/documents.parquet")).filter(col("sim_raw") >= 0.6)
    assert(pairs.count() > 0,
      "guarded pair join emitted nothing — the shingle groups are gone")
  }

  /** Seventh variant (round 12): total ordering ties. Survival plus
    * teeth: the fixture must actually CONTAIN the tie shapes — a modal
    * (user, ts) group bigger than one, a fully duplicated non-id events
    * row, bit-identical embeddings under different labels, and the same
    * document text under two different (lang, source) blocks — otherwise
    * an innocent edit turns it into an ordinary small fixture and the
    * oracle sweep (tools/degen_preflight.sh over this same set) stops
    * proving tie determinism.
    */
  test("ties: queries survive total ordering ties and the ties are real") {
    val d = Files.createTempDirectory("graft-degen-ties-").toString
    DegenTables.writeTies(spark, d)
    val failures = sweep(d)
    assert(failures.isEmpty,
      s"queries crashed on ordering ties:\n${failures.mkString("\n")}")

    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, d)
    val modal = ev.groupBy("user_id", "ts").count()
      .agg(max("count")).head().getLong(0)
    assert(modal >= 10,
      s"fixture lost its tied instant (modal (user, ts) group $modal < 10)")
    val dupRows = ev.groupBy("user_id", "ts", "event_type", "value", "props")
      .count().filter(col("count") > 1).count()
    assert(dupRows > 0, "no fully duplicated non-id events row left")
    val em = spark.read.parquet(s"$d/embeddings.parquet")
    val dupVecs = em.groupBy("embedding").agg(
      countDistinct("label").as("nl"), count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("nl") > 1).count()
    assert(dupVecs > 0,
      "no bit-identical embedding pair with differing labels left")
    val dupText = spark.read.parquet(s"$d/documents.parquet")
      .groupBy("text").agg(countDistinct("lang", "source").as("nb"))
      .filter(col("nb") > 1).count()
    assert(dupText > 0,
      "no duplicate text across distinct (lang, source) blocks left")
  }

  /** Eighth variant (round 14): zero variance with n>1. The tiny set's
    * zero variances all arrive via n=1 groups (the (n−1)=0 arm); this one
    * pins the OTHER arm — sample variance exactly 0.0 over real groups,
    * where an unguarded ratio emits IEEE NaN on Spark but NULL on DuckDB.
    * Survival here; value-level parity on the same set is the
    * degen_preflight.sh oracle sweep. Teeth: the fixture must keep its
    * zero-variance shapes, or an innocent edit turns it into an ordinary
    * small fixture and the sweep stops proving the guards' 0.0 arm.
    */
  test("constant: queries survive zero-variance groups and the constants are real") {
    val d = Files.createTempDirectory("graft-degen-constant-").toString
    DegenTables.writeConstant(spark, d)
    val failures = sweep(d)
    assert(failures.isEmpty,
      s"queries crashed on zero-variance input:\n${failures.mkString("\n")}")

    // NaN/Infinity audit: the DuckDB parity sweep proved every guarded
    // ratio yields NULL (not IEEE NaN/Inf) on this set — DuckDB's /0 is
    // NULL, so a Spark-side NaN could only hash-match a DuckDB NaN,
    // which the green sweep shows there isn't. Pin that Spark-side on
    // every `sbt test`: the shell sweep runs once per round, but a
    // dropped nullif would otherwise sit unnoticed between sweeps. Any
    // non-finite float in any query's output on THIS fixture is a guard
    // regression by construction.
    assertNoNonFinite(d)

    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, d)
    val evShape = ev.agg(countDistinct("event_type").as("nt"),
      countDistinct("value").as("nv"), count(lit(1)).as("n")).head()
    assert(evShape.getLong(0) == 1 && evShape.getLong(1) == 1 && evShape.getLong(2) >= 20,
      s"events lost constancy: ${evShape} — need 1 type, 1 value, >=20 rows")
    val li = spark.read.parquet(s"$d/lineitem.parquet")
      .agg(countDistinct("l_quantity").as("nq"),
        countDistinct("l_extendedprice").as("np"), count(lit(1)).as("n")).head()
    assert(li.getLong(0) == 1 && li.getLong(1) == 1 && li.getLong(2) >= 10,
      s"lineitem lost its constant (quantity, price) across >=10 rows: $li")
    assert(spark.read.parquet(s"$d/customer.parquet")
      .agg(countDistinct("c_acctbal")).head().getLong(0) == 1,
      "customers no longer share one balance")
    val textClique = spark.read.parquet(s"$d/documents.parquet")
      .groupBy("text").count().agg(max("count")).head().getLong(0)
    assert(textClique >= 6,
      s"largest identical-text clique shrank to $textClique (< 6)")
    val em = spark.read.parquet(s"$d/embeddings.parquet")
    val vecClique = em.groupBy("embedding").count().agg(max("count")).head().getLong(0)
    assert(vecClique >= 8,
      s"largest bit-identical embedding cluster shrank to $vecClique (< 8)")
    assert(em.filter(array_min(col("embedding")) === array_max(col("embedding")))
      .count() > 0, "flat (min==max) vector gone — quantizer zero-range arm unexercised")
  }

  /** Ninth variant (round 14): long documents — the web-crawl shape. A
    * ~30 KB / ~6,000-token doc, its exact duplicate, and a one-token
    * near-duplicate must flow through every text path (tokenize,
    * shingles, rolling-hash fingerprint, char-gram langid, PII regexes,
    * chunking, packing) without a quadratic blowup or a silent length
    * cap. Cross-engine value parity over the same 30 KB strings is the
    * degen_preflight.sh oracle sweep. Teeth: the fixture must keep its
    * long-doc shapes.
    */
  test("long: queries survive 30KB documents and the long shapes are real") {
    val d = Files.createTempDirectory("graft-degen-long-").toString
    DegenTables.writeLong(spark, d)
    val failures = sweep(d)
    assert(failures.isEmpty,
      s"queries crashed on long documents:\n${failures.mkString("\n")}")

    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val maxChars = docs.agg(max(length(col("text")))).head().getInt(0)
    assert(maxChars >= 25000, s"fixture lost its long document ($maxChars chars)")
    val dupLong = docs.filter(length(col("text")) >= 25000)
      .groupBy("text").count().filter(col("count") > 1).count()
    assert(dupLong > 0, "fixture lost its exact long-duplicate pair")
    // the near-dup: same token count as the long doc, differing tokens ≤ 2
    val texts = docs.filter(length(col("text")) >= 25000)
      .select("text").distinct().collect().map(_.getString(0))
    assert(texts.length == 2, s"expected exactly 2 distinct long texts, got ${texts.length}")
    val Array(a, b) = texts.map(_.split(" "))
    assert(a.length == b.length && a.zip(b).count { case (x, y) => x != y } <= 2,
      "near-duplicate drifted: long texts must differ in at most 2 tokens")
    val propsLen = spark.read.parquet(s"$d/events.parquet")
      .agg(max(length(col("props")))).head().getInt(0)
    assert(propsLen >= 800, s"fixture lost its long props JSON ($propsLen chars)")
  }

  /** Tenth variant (round 14): calendar boundaries. Survival plus teeth:
    * the fixture must keep the instants the set exists for — the leap-day
    * order adjacency, the New Year ISO-week flip pair, a pre-1970 event
    * run including one NON-hour-aligned negative instant (the
    * window()-modular-arithmetic probe), the exact epoch zero, the
    * 23:59:59→00:00:00 adjacent-second midnight rollover, and session
    * gaps of EXACTLY the 1800 s sessionize threshold (gap > 1800 starts a
    * session; equality must stay inside — a >= flip changes the session
    * count on this fixture). Cross-engine value parity over the same
    * instants is the degen_preflight.sh oracle sweep.
    */
  test("calendar: queries survive calendar boundaries and the edges are real") {
    val d = Files.createTempDirectory("graft-degen-calendar-").toString
    DegenTables.writeCalendar(spark, d)
    val failures = sweep(d)
    assert(failures.isEmpty,
      s"queries crashed on calendar boundaries:\n${failures.mkString("\n")}")

    import org.apache.spark.sql.functions._
    val orderDates = spark.read.parquet(s"$d/orders.parquet")
      .select(col("o_custkey"), col("o_orderdate").cast("date").cast("string").as("day"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(orderDates.exists(_._2 == "1996-02-29"),
      "fixture lost its leap-day order")
    assert(orderDates.exists(_._2 == "1995-12-31") &&
      orderDates.exists(_._2 == "1996-01-01"),
      "fixture lost the New Year ISO-week-flip order pair")
    val leapCust = orderDates.filter(_._2 == "1996-02-29").map(_._1).toSet
    assert(leapCust.exists(c => orderDates.contains((c, "1996-02-28"))),
      "no customer holds the 02-28/02-29 leap-day adjacency — the " +
        "rolling RANGE frame never crosses the leap boundary")

    // event teeth read through Tables.events (the loader the queries use)
    val secs = Tables.events(spark, d)
      .select(col("user_id"), col("ts").cast("long").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(secs.exists(_._2 < 0), "fixture lost its pre-1970 events")
    assert(secs.exists(_._2 == 0L), "fixture lost the exact epoch-zero event")
    assert(secs.exists(p => p._2 < 0 && p._2 % 3600 != 0),
      "fixture lost its non-hour-aligned negative instant — the " +
        "window() modular-arithmetic probe is gone")
    val feb28 = 820454400L + 58L * 86400L
    assert(secs.exists(_._2 == feb28 + 2 * 86400 - 1) &&
      secs.exists(_._2 == feb28 + 2 * 86400),
      "fixture lost the 23:59:59/00:00:00 midnight-rollover pair")
    val exactGaps = secs.groupBy(_._1).values.map(_.map(_._2).sorted).flatMap(ts =>
      ts.zip(ts.drop(1)).map { case (a, b) => b - a }).count(_ == 1800L)
    assert(exactGaps >= 4,
      s"fixture lost its exactly-at-threshold session gaps ($exactGaps < 4)")
  }

  /** Eleventh variant (round 14): control characters and exotic
    * whitespace. Survival plus teeth: the fixture must keep embedded LF
    * and CRLF and TAB inside document text (with an exact duplicate
    * across the line breaks, so dedup hashes control bytes), the NBSP /
    * zero-width-space / BOM invisibles, the escaped \n inside a JSON
    * string value, and the trailing-LF part name — the historical
    * Java-vs-RE2 `$`-anchor seam, kept as the regression canary for the
    * round-19 `\z` parity fix (VERDICT r18 #4) that cleared the oracle
    * sweep's last control-set forgiveness.
    */
  test("control: queries survive control characters and the invisibles are real") {
    val d = Files.createTempDirectory("graft-degen-control-").toString
    DegenTables.writeControl(spark, d)
    val failures = sweep(d)
    assert(failures.isEmpty,
      s"queries crashed on control characters:\n${failures.mkString("\n")}")

    import org.apache.spark.sql.functions._
    val texts = spark.read.parquet(s"$d/documents.parquet")
      .select("text").collect().map(_.getString(0))
    assert(texts.exists(t => t.contains('\n') && !t.contains('\r')),
      "fixture lost its bare-LF document")
    assert(texts.exists(_.contains("\r\n")), "fixture lost its CRLF document")
    assert(texts.exists(_.contains('\t')), "fixture lost its TAB document")
    assert(texts.exists(_.contains('\u00A0')), "fixture lost its NBSP token")
    assert(texts.exists(_.contains('\u200B')),
      "fixture lost its zero-width-space token")
    assert(texts.exists(_.startsWith("\uFEFF")), "fixture lost its BOM prefix")
    assert(texts.filter(_.contains('\n')).groupBy(identity).exists(_._2.length > 1),
      "fixture lost the exact duplicate across line breaks")
    val names = spark.read.parquet(s"$d/part.parquet")
      .select("p_name").collect().map(_.getString(0))
    assert(names.exists(_.endsWith("widget\n")),
      "fixture lost the trailing-LF part name — the $-anchor seam is gone")
    // Positive pin of the round-19 anchor PARITY (VERDICT r18 #4): the
    // fn_regexp end anchor is `\z` on both engines — end-of-text with no
    // final-line-terminator exception — so the trailing-LF seam name must
    // NOT match on Spark (it never matched on RE2), and the control set
    // carries ZERO forgivenesses in degen_preflight.sh expected_for. The
    // seam name stays in the fixture as the regression canary: an edit
    // back to `$` flips this assertion red before the sweep ever runs.
    import spark.implicits._
    assert(!Seq("control widget\n").toDF("p")
      .select(col("p").rlike("widget\\z")).head().getBoolean(0),
      "Spark's \\z matched before a final line terminator — the fn_regexp " +
        "anchor parity (VERDICT r18 #4) regressed; re-probe DuckDB before " +
        "re-declaring a control-set forgiveness")
    assert(Seq("control widget").toDF("p")
      .select(col("p").rlike("widget\\z")).head().getBoolean(0),
      "\\z stopped matching at plain end-of-text — is_widget is now " +
        "false everywhere and the oracle comparison is vacuous")
    val props = spark.read.parquet(s"$d/events.parquet")
      .select("props").collect().map(_.getString(0))
    assert(props.exists(p => p.contains("\\n") && p.contains("\\t")),
      "fixture lost the escaped-\\n JSON string value")
    // malformed-props teeth: at least two rows Spark's JSON parser NULLs
    // out entirely (from_json to a permissive string map), each
    // k-pattern-free so the regex oracles agree on NULL (the declared
    // equivalence domain — see the fn_json QueryDef note)
    val malformed = spark.read.parquet(s"$d/events.parquet")
      .select(col("props"),
        org.apache.spark.sql.functions.from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)).isNull.as("bad"))
      .where(col("bad")).collect().map(_.getString(0))
    assert(malformed.length >= 2,
      s"fixture lost its malformed-props rows (${malformed.length} < 2)")
    val kPattern = """"k"\s*:\s*(-?[0-9]+)""".r
    assert(malformed.forall(p => kPattern.findFirstIn(p).isEmpty),
      "a malformed props row matches the k-regex — that shape diverges " +
        "by construction (parser NULL vs regex match); keep malformed " +
        "rows k-pattern-free per the fn_json QueryDef equivalence note")
    // duplicate-key teeth (round-14 probe): the fixture must keep the
    // strong shapes — a DIFFERING-value dup on the extracted key (all
    // live readers are first-wins, so parity across the registry proves
    // the chain) and a differing dup on a key no query extracts.
    assert(props.exists(p =>
      kPattern.findAllMatchIn(p).map(_.group(1)).toSeq.distinct.size >= 2),
      "fixture lost its differing-value duplicate-k props row")
    assert(props.exists(p =>
      """"q"\s*:\s*(-?[0-9]+)""".r.findAllMatchIn(p)
        .map(_.group(1)).toSeq.distinct.size >= 2),
      "fixture lost its differing-value dup on the non-extracted q key")
    // Positive pin of the Spark behaviors the planted shapes rely on
    // (same philosophy as the other divergence pins): from_json RETAINS
    // both dup entries and element_at scans to the FIRST;
    // get_json_object is first-wins; json_tuple is the documented
    // LAST-wins outlier no query may use on dup-capable data. If a
    // Spark upgrade changes any half, the fn_map QueryDef dup-key note
    // and this fixture's design assumptions need re-deriving.
    import org.apache.spark.sql.functions.{from_json, get_json_object, json_tuple, map_keys, element_at, lit}
    import org.apache.spark.sql.types.{MapType, StringType}
    val dup = Seq("""{"k": 1, "k": 2}""").toDF("j")
      .withColumn("m", from_json(col("j"), MapType(StringType, StringType)))
    assert(dup.select(map_keys(col("m"))).head().getSeq[String](0) === Seq("k", "k"),
      "from_json no longer retains duplicate map entries — re-derive " +
        "the fn_map QueryDef dup-key note")
    assert(dup.select(element_at(col("m"), lit("k"))).head().getString(0) === "1",
      "element_at over a dup-key map no longer scans to the FIRST " +
        "entry — fn_map's dup-key agreement with the regex oracle is " +
        "broken; re-derive the fn_map QueryDef dup-key note")
    assert(dup.select(get_json_object(col("j"), "$.k")).head().getString(0) === "1",
      "get_json_object no longer keeps the FIRST duplicate key — " +
        "re-derive the fn_map QueryDef dup-key note (fn_json side)")
    assert(dup.select(json_tuple(col("j"), "k")).head().getString(0) === "2",
      "json_tuple no longer keeps the LAST duplicate key — soften the " +
        "fn_map QueryDef's json_tuple caveat if Spark unified it with " +
        "the first-wins readers")
  }

  /** Round-15: the duplicate-key hazard pinned above is now a shipped
    * fix, not prose. [[graft.functions.JsonNormalize]] dedups map keys
    * first-wins at ingest; this test drives the control set's planted
    * dup rows ({"k": 7, "k": 8} and {"q": 1, "q": 2, "k": 9}) through
    * the normalizer and proves (a) the raw from_json map really is
    * poison (map_concat throws DUPLICATED_MAP_KEY — the hazard stays
    * real), (b) the normalized map SURVIVES map_concat, and (c)
    * first-wins values match the pinned reader chain exactly
    * (element_at, get_json_object, the oracle k-regex).
    */
  test("control: JsonNormalize.fromJsonFirstWins makes the dup-key rows map_concat-safe, first-wins") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = Files.createTempDirectory("graft-degen-dupkey-").toString
    DegenTables.writeControl(spark, d)
    val ev = spark.read.parquet(s"$d/events.parquet")

    // (a) the hazard is real: the retained-dup map kills map_concat
    val raw = ev.withColumn("m", from_json(col("props"),
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType)))
    val boom = intercept[Exception] {
      raw.select(map_concat(col("m"), map(lit("tag"), lit("x")))).collect()
    }
    assert(boom.toString.contains("DUPLICATED_MAP_KEY"),
      s"raw dup-key map no longer trips map_concat — if Spark's default " +
        s"mapKeyDedupPolicy changed, re-derive the fn_map dup-key note: $boom")

    // (b) normalized maps flow through map_concat on every row
    val norm = ev.withColumn("m",
      graft.functions.JsonNormalize.fromJsonFirstWins(col("props")))
    val merged = norm
      .select(col("event_id"), col("m"),
        when(col("m").isNotNull,
          map_concat(col("m"), map(lit("tag"), lit("x"))))
          .otherwise(map(lit("tag"), lit("x"))).as("mm"))
      .orderBy("event_id").collect()
    assert(merged.length == 7, "control events fixture changed row count")
    assert(merged.forall(r => r.getMap[String, String](2).get("tag").contains("x")),
      "map_concat result lost the tag entry on some row")

    // (c) first-wins parity with the pinned chain, per planted row:
    //     event 5 {"k": 7, "k": 8} -> k=7; event 6 {"q": 1, "q": 2,
    //     "k": 9} -> q=1, k=9; and the dedup'd map has unique keys.
    val byId = merged.map(r => r.getLong(0) -> r.getMap[String, String](1)).toMap
    assert(byId(5L)("k") == "7",
      s"first-wins violated on the extracted key: ${byId(5L)}")
    assert(byId(6L)("q") == "1" && byId(6L)("k") == "9",
      s"first-wins violated on the non-extracted key: ${byId(6L)}")
    merged.foreach { r =>
      val m = r.getMap[String, String](1)
      if (m != null) {
        val ks = m.keys.toSeq
        assert(ks.distinct.size == ks.size,
          s"normalized map still has duplicate keys on event ${r.getLong(0)}: $ks")
      }
    }
    // NULL transparency: the two malformed rows stay NULL maps
    assert(byId(3L) == null && byId(4L) == null,
      "malformed props no longer NULL through the normalizer")
    // no-dup rows are value-identical to the raw parse
    assert(byId(0L)("k") == "1" && byId(0L)("s") == "a\nb\tc",
      s"no-dup row changed under normalization: ${byId(0L)}")
  }

  test("the extremes loud-throw list has ONE source of truth: tools/degen_extremes_loud.txt") {
    // ADVICE r12: the old tests regex-scraped degen_preflight.sh's case
    // arms, which any inline comment or second command would break. Now
    // the list lives in a data file the script reads verbatim (tr < file)
    // and this test pins file == DegenTables.extremesLoudQueries — no
    // shell parsing anywhere. expected_loud_for(extremes) feeds
    // SPARK_GRAFT_VERIFY_EXPECT_FAIL and the manifest loud-throw check;
    // a drifted name would either let an undeclared throw fail the sweep
    // or silently forgive a query that should die loudly.
    import scala.jdk.CollectionConverters._
    val fileList = Files.readAllLines(
      java.nio.file.Paths.get("tools/degen_extremes_loud.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toSet
    assert(fileList == DegenTables.extremesLoudQueries,
      s"tools/degen_extremes_loud.txt drifted from " +
        s"DegenTables.extremesLoudQueries: file=$fileList")
    // The script must actually consume that file (not a re-typed copy),
    // and its compare-stage extremes arm must be loud-list + the declared
    // value divergences (fn_format) — pin both by content, loudly.
    val sh = new String(Files.readAllBytes(
      java.nio.file.Paths.get("tools/degen_preflight.sh")), "UTF-8")
    assert(sh.contains("degen_extremes_loud.txt"),
      "degen_preflight.sh no longer reads tools/degen_extremes_loud.txt")
    assert(sh.contains("expected_loud_for extremes; printf '%s\\n' fn_format"),
      "degen_preflight.sh expected_for(extremes) is no longer " +
        "loud-list + fn_format — re-sync with extremesExpectedDivergences")
    assert(DegenTables.extremesExpectedDivergences == Set("fn_format"),
      "extremesExpectedDivergences changed — update degen_preflight.sh's " +
        "expected_for(extremes) printf and this test together")
  }
}
