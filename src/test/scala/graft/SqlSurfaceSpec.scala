package graft

import graft.sql.{RemoteSql, SamzaSql}

/** Lookup-call counter visible across closure serialization: objects
  * deserialize to the JVM singleton, so executor-side increments (local
  * mode) land here. */
object RemoteSqlCounter {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

class SqlSurfaceSpec extends SparkSpec {

  test("SQL remote-table join looks up only post-filter rows") {
    val s = spark
    import org.apache.spark.sql.types._
    RemoteSqlCounter.calls.set(0)
    RemoteSql.registerRemote(s, "remote_counted",
      RemoteSql.RemoteTableDef(
        keyCol = "user_id",
        schema = StructType(Seq(StructField("user_id", LongType),
          StructField("tier", StringType))),
        reader = new graft.tables.RemoteTable.AsyncReader[Any,
            org.apache.spark.sql.Row] {
          def getAsync(key: Any)(
              implicit ec: scala.concurrent.ExecutionContext) = {
            RemoteSqlCounter.calls.incrementAndGet()
            scala.concurrent.Future.successful(Some(
              org.apache.spark.sql.Row("T" + (key.asInstanceOf[Long] % 3))))
          }
        },
        // cache off so the counter equals exactly one call per row
        cfg = graft.tables.RemoteTable.LookupConfig(cacheSize = 0)))
    val out = SamzaSql.run(s, sf0001,
      """INSERT INTO counted_sink
        |SELECT e.user_id, e.event_id, r.tier
        |FROM events e
        |JOIN remote_counted r ON e.user_id = r.user_id
        |WHERE e.event_type = 'click'""".stripMargin).collect()
    val total = graft.sources.Tables.load(s, sf0001, "events").count()
    val clicks = graft.sources.Tables.load(s, sf0001, "events")
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .count()
    assert(out.length == clicks)
    // filter-before-lookup: the reader saw only the filtered stream
    assert(RemoteSqlCounter.calls.get() == clicks,
      s"expected $clicks lookups, saw ${RemoteSqlCounter.calls.get()}")
    assert(clicks < total)
    assert(out.forall(r => r.getString(2) == "T" + (r.getLong(0) % 3)))
  }

  test("SQL remote-table LEFT OUTER join null-extends misses") {
    val s = spark
    import org.apache.spark.sql.types._
    RemoteSql.registerRemote(s, "remote_sparse",
      RemoteSql.RemoteTableDef(
        keyCol = "user_id",
        schema = StructType(Seq(StructField("user_id", LongType),
          StructField("flag", StringType))),
        reader = new graft.tables.RemoteTable.AsyncReader[Any,
            org.apache.spark.sql.Row] {
          def getAsync(key: Any)(
              implicit ec: scala.concurrent.ExecutionContext) =
            scala.concurrent.Future.successful(
              if (key.asInstanceOf[Long] % 2 == 0)
                Some(org.apache.spark.sql.Row("even"))
              else None)
        }))
    val out = SamzaSql.run(s, sf0001,
      """INSERT INTO sparse_sink
        |SELECT e.user_id, r.flag
        |FROM events e
        |LEFT JOIN remote_sparse r ON e.user_id = r.user_id""".stripMargin)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      if (r.getLong(0) % 2 == 0) r.getString(1) == "even" else r.isNullAt(1)
    })
  }

  test("remote table on the LEFT of an inner join is swapped, not empty") {
    val s = spark
    import org.apache.spark.sql.types._
    RemoteSql.registerRemote(s, "remote_left",
      RemoteSql.RemoteTableDef(
        keyCol = "user_id",
        schema = StructType(Seq(StructField("user_id", LongType),
          StructField("tier", StringType))),
        reader = new graft.tables.RemoteTable.AsyncReader[Any,
            org.apache.spark.sql.Row] {
          def getAsync(key: Any)(
              implicit ec: scala.concurrent.ExecutionContext) =
            scala.concurrent.Future.successful(Some(
              org.apache.spark.sql.Row("T" + (key.asInstanceOf[Long] % 3))))
        }))
    val out = SamzaSql.run(s, sf0001,
      """INSERT INTO left_sink
        |SELECT r.tier, e.user_id, e.event_id
        |FROM remote_left r
        |JOIN events e ON e.user_id = r.user_id
        |WHERE e.event_type = 'click'""".stripMargin).collect()
    val clicks = graft.sources.Tables.load(s, sf0001, "events")
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .count()
    assert(out.length == clicks, s"expected $clicks rows, got ${out.length}")
    assert(out.forall(r => r.getString(0) == "T" + (r.getLong(1) % 3)))
  }

  test("remote RIGHT JOIN stream ≡ stream LEFT JOIN remote") {
    val s = spark
    import org.apache.spark.sql.types._
    RemoteSql.registerRemote(s, "remote_rj",
      RemoteSql.RemoteTableDef(
        keyCol = "user_id",
        schema = StructType(Seq(StructField("user_id", LongType),
          StructField("flag", StringType))),
        reader = new graft.tables.RemoteTable.AsyncReader[Any,
            org.apache.spark.sql.Row] {
          def getAsync(key: Any)(
              implicit ec: scala.concurrent.ExecutionContext) =
            scala.concurrent.Future.successful(
              if (key.asInstanceOf[Long] % 2 == 0)
                Some(org.apache.spark.sql.Row("even"))
              else None)
        }))
    val out = SamzaSql.run(s, sf0001,
      """INSERT INTO rj_sink
        |SELECT e.user_id, r.flag
        |FROM remote_rj r
        |RIGHT JOIN events e ON e.user_id = r.user_id""".stripMargin)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      if (r.getLong(0) % 2 == 0) r.getString(1) == "even" else r.isNullAt(1)
    })
  }

  test("unsupported remote shapes throw loudly, never silent-empty") {
    val s = spark
    import org.apache.spark.sql.types._
    def reg(name: String): Unit =
      RemoteSql.registerRemote(s, name,
        RemoteSql.RemoteTableDef(
          keyCol = "user_id",
          schema = StructType(Seq(StructField("user_id", LongType),
            StructField("tier", StringType))),
          reader = new graft.tables.RemoteTable.AsyncReader[Any,
              org.apache.spark.sql.Row] {
            def getAsync(key: Any)(
                implicit ec: scala.concurrent.ExecutionContext) =
              scala.concurrent.Future.successful(Some(
                org.apache.spark.sql.Row("T")))
          }))
    reg("remote_shape")
    reg("remote_shape2")
    // (b) remote wrapped in a subquery: rewrite can't see it — must throw
    val wrapped = intercept[IllegalArgumentException] {
      SamzaSql.run(s, sf0001,
        """INSERT INTO w_sink
          |SELECT e.user_id, r.tier
          |FROM events e
          |JOIN (SELECT user_id, tier FROM remote_shape) r
          |  ON e.user_id = r.user_id""".stripMargin)
    }
    assert(wrapped.getMessage.contains("unsupported shape"),
      wrapped.getMessage)
    // (c) remote scanned outside a join — lookup-only, must throw
    val scanned = intercept[IllegalArgumentException] {
      SamzaSql.run(s, sf0001,
        "INSERT INTO s_sink SELECT user_id FROM remote_shape")
    }
    assert(scanned.getMessage.contains("unsupported shape"),
      scanned.getMessage)
    // two remote tables can't lookup-join each other
    val both = intercept[IllegalArgumentException] {
      SamzaSql.run(s, sf0001,
        """INSERT INTO b_sink
          |SELECT a.user_id FROM remote_shape a
          |JOIN remote_shape2 b ON a.user_id = b.user_id""".stripMargin)
    }
    assert(both.getMessage.contains("two remote tables"), both.getMessage)
    // remote on the left of a LEFT join has no lookup semantics
    val lol = intercept[IllegalArgumentException] {
      SamzaSql.run(s, sf0001,
        """INSERT INTO l_sink
          |SELECT e.user_id, r.tier FROM remote_shape r
          |LEFT JOIN events e ON e.user_id = r.user_id""".stripMargin)
    }
    assert(lol.getMessage.contains("not supported"), lol.getMessage)
    RemoteSql.unregisterRemote(s, "remote_shape")
    RemoteSql.unregisterRemote(s, "remote_shape2")
  }

  test("registry lifecycle: unregister/clear release entries and views") {
    val s = spark
    import org.apache.spark.sql.types._
    val d = RemoteSql.RemoteTableDef(
      keyCol = "user_id",
      schema = StructType(Seq(StructField("user_id", LongType),
        StructField("tier", StringType))),
      reader = new graft.tables.RemoteTable.AsyncReader[Any,
          org.apache.spark.sql.Row] {
        def getAsync(key: Any)(
            implicit ec: scala.concurrent.ExecutionContext) =
          scala.concurrent.Future.successful(Some(
            org.apache.spark.sql.Row("T")))
      })
    RemoteSql.registerRemote(s, "remote_lc1", d)
    RemoteSql.registerRemote(s, "remote_lc2", d)
    assert(s.catalog.tableExists("remote_lc1"))
    RemoteSql.unregisterRemote(s, "remote_lc1")
    assert(!s.catalog.tableExists("remote_lc1"))
    assert(s.catalog.tableExists("remote_lc2"))
    // clear releases everything for the session
    RemoteSql.clearRemotes(s)
    assert(!s.catalog.tableExists("remote_lc2"))
    // with no remotes registered, select is the plain spark.sql path
    // (a stale marker would throw here; absence of registry entries
    // means no rewrite/validation pass runs at all)
    assert(RemoteSql.select(s, "SELECT 1 AS x").head().getInt(0) == 1)
  }

  test("polymorphic UDF resolves overloads by argument type") {
    val s = spark
    import org.apache.spark.sql.catalyst.expressions.{Add, Length, Literal}
    import org.apache.spark.sql.types._
    // the reference shape: one UDF name, int and string overloads
    // (TestSamzaSqlEndToEnd.java:719 MyTestPolyUdf)
    graft.functions.UdfRegistry.register(s, "poly", Seq(
      graft.functions.UdfRegistry.Overload(Seq(IntegerType),
        { case Seq(x) => Add(x, Literal(100)) }),
      graft.functions.UdfRegistry.Overload(Seq(StringType),
        { case Seq(x) => Length(x) }),
      graft.functions.UdfRegistry.Overload(Seq(IntegerType, IntegerType),
        { case Seq(a, b) => Add(a, b) })))
    val row = s.sql(
      "SELECT poly(5) AS a, poly('hello') AS b, poly(3, 4) AS c").head()
    assert((row.getInt(0), row.getInt(1), row.getInt(2)) == (105, 5, 7))
    // up-cast resolution: smallint argument picks the int overload
    assert(s.sql("SELECT poly(CAST(2 AS SMALLINT)) AS a").head()
      .getInt(0) == 102)
  }

  test("polymorphic UDF rejects bad arity/types at analysis") {
    val s = spark
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    graft.functions.UdfRegistry.register(s, "typed_one", Seq(
      graft.functions.UdfRegistry.Overload(Seq(IntegerType),
        { case Seq(x) => x })))
    // Checker.java:45 behavior: bad calls fail when the query is
    // ANALYZED — before any data moves
    val arity = intercept[Exception] { s.sql("SELECT typed_one(1, 2)") }
    assert(arity.getMessage.contains("wrong number of arguments"),
      arity.getMessage)
    val types = intercept[Exception] { s.sql("SELECT typed_one(array(1))") }
    assert(types.getMessage.contains("no overload accepts"),
      types.getMessage)
    // a long does NOT up-cast to int (lossy) — must be rejected too
    val lossy = intercept[Exception] {
      s.sql("SELECT typed_one(CAST(1 AS BIGINT))")
    }
    assert(lossy.getMessage.contains("no overload accepts"),
      lossy.getMessage)
  }

  test("parses INSERT INTO … SELECT") {
    val st = SamzaSql.parse(
      "INSERT INTO out SELECT a, b FROM t WHERE a > 1")
    assert(st.sink == "out")
    assert(st.select.toLowerCase.startsWith("select"))
  }

  test("rejects non-INSERT statements like the reference") {
    // SamzaSqlQueryParser rejects non-INSERT (:131-135)
    intercept[IllegalArgumentException] {
      SamzaSql.parse("SELECT * FROM t")
    }
    intercept[IllegalArgumentException] {
      SamzaSql.parse("DELETE FROM t")
    }
  }

  test("multi-statement jobs compose through sinks") {
    val out = SamzaSql.runAll(spark, sf0001, Seq(
      "INSERT INTO s1 SELECT event_id, user_id FROM events WHERE user_id = 1",
      "INSERT INTO s2 SELECT count(*) AS n FROM s1"))
    val n = out("s2").collect().head.getLong(0)
    assert(n > 0)
  }

  test("reference UDFs registered and case-insensitive") {
    SamzaSql.run(spark, sf0001,
      "INSERT INTO x SELECT doc_id FROM documents")
    val df = spark.sql(
      """SELECT regexmatch('^a.*', 'abc') AS m1,
        |       RegexMatch('^z.*', 'abc') AS m2,
        |       converttostring(42) AS s,
        |       BuildOutputRecord('k', 1, 'v', 'two').k AS k
        |""".stripMargin)
    val r = df.collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getString(2) == "42")
    assert(r.getInt(3) == 1)
  }

  test("each Udfs Column twin equals its SQL-registered form on the same rows") {
    import org.apache.spark.sql.functions.{col, expr}
    import graft.functions.Udfs
    val s = spark
    import s.implicits._
    Udfs.register(s)
    val rows = Seq(("^a.*", "abc", 1), ("b+", "xyz", 22), ("z$", "quiz", 333))
      .toDF("re", "str", "n")
      .withColumn("rec", expr("named_struct('a', named_struct('b', n))"))
    val pairs = Seq(
      Udfs.regexMatch(col("re"), col("str")) -> "RegexMatch(re, str)",
      Udfs.getNestedField(col("rec"), "a.b") -> "GetNestedField(rec, 'a.b')",
      Udfs.buildOutputRecord("x" -> col("n"), "y" -> col("str")) ->
        "BuildOutputRecord('x', n, 'y', str)",
      Udfs.convertToString(col("n")) -> "ConvertToString(n)")
    pairs.foreach { case (twin, sql) =>
      val out = rows.select(twin.as("twin"), expr(sql).as("sql"))
      assert(out.schema("twin").dataType == out.schema("sql").dataType, sql)
      out.collect().foreach(r => assert(r.get(0) == r.get(1), sql))
    }
  }

  test("GROUP BY window knob: tumbling rewrite, inner GROUP BY untouched") {
    // rewrite shape: window key prepended to GROUP BY, window_start
    // surfaced in the projection
    val rewritten = SamzaSql.windowedGroupBy(
      "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type",
      300000L, "ts")
    assert(rewritten ==
      "SELECT window.start AS window_start, event_type, COUNT(*) AS cnt " +
        "FROM events GROUP BY window(ts, '300000 milliseconds'), event_type")
    // the DEPTH-0 group by is rewritten: a windowed outer aggregate
    // over a subquery keeps the inner GROUP BY as written
    val nested = SamzaSql.windowedGroupBy(
      "SELECT lang, COUNT(*) AS n FROM " +
        "(SELECT doc_id, lang FROM documents GROUP BY doc_id, lang) " +
        "GROUP BY lang",
      60000L, "ts")
    assert(nested.contains("GROUP BY doc_id, lang"))
    assert(nested.endsWith("GROUP BY window(ts, '60000 milliseconds'), lang"))
    // no GROUP BY → untouched (the reference's knob windows
    // aggregates only; passthrough statements in a multi-statement
    // job must not be rejected)
    assert(SamzaSql.windowedGroupBy("SELECT 1 FROM events", 1000L, "ts")
      == "SELECT 1 FROM events")
    // whitespace-insensitive keyword matching (GROUP\n  BY is valid SQL)
    val spaced = SamzaSql.windowedGroupBy(
      "SELECT event_type, COUNT(*) AS cnt FROM events GROUP\n  BY event_type",
      300000L, "ts")
    assert(spaced.endsWith(
      "GROUP BY window(ts, '300000 milliseconds'), event_type"), spaced)
    // a GROUP BY inside a TRAILING subquery (after the outer clause,
    // e.g. in HAVING) is not the outer one — the depth-0 scan must
    // still pick the real outer GROUP BY, not the textually-last one
    val having = SamzaSql.windowedGroupBy(
      "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type " +
        "HAVING COUNT(*) > (SELECT COUNT(*) FROM events GROUP BY user_id " +
        "ORDER BY 1 LIMIT 1)",
      300000L, "ts")
    assert(having.contains(
      "GROUP BY window(ts, '300000 milliseconds'), event_type HAVING"),
      having)
    assert(having.contains("GROUP BY user_id"), having)
    // 'group by' inside a string literal is data, not a clause
    val literal = SamzaSql.windowedGroupBy(
      "SELECT count(*) AS n FROM events WHERE event_type = ' group by '",
      1000L, "ts")
    assert(literal ==
      "SELECT count(*) AS n FROM events WHERE event_type = ' group by '",
      literal)
    // only a NESTED GROUP BY → no outer aggregate to window → untouched
    val innerOnly = SamzaSql.windowedGroupBy(
      "SELECT n FROM (SELECT COUNT(*) AS n FROM events GROUP BY user_id)",
      1000L, "ts")
    assert(innerOnly ==
      "SELECT n FROM (SELECT COUNT(*) AS n FROM events GROUP BY user_id)",
      innerOnly)
    // two depth-0 GROUP BYs (set operation) are outside the Samza SQL
    // surface: reject loudly rather than corrupt the statement
    intercept[IllegalArgumentException] {
      SamzaSql.windowedGroupBy(
        "SELECT a FROM t GROUP BY a UNION ALL SELECT b FROM u GROUP BY b",
        1000L, "ts")
    }
    // a backslash-escaped quote (Spark's default literal escape) must
    // not desynchronize the in-string state — the literal's 'group by'
    // text stays data and the real outer clause is still found
    val escaped = SamzaSql.windowedGroupBy(
      "SELECT count(*) AS n FROM events " +
        "WHERE note = 'don\\'t group by me' GROUP BY event_type",
      1000L, "ts")
    assert(escaped.endsWith(
      "GROUP BY window(ts, '1000 milliseconds'), event_type"), escaped)
    assert(escaped.contains("'don\\'t group by me'"), escaped)
    // an apostrophe inside a -- comment must not open a phantom
    // literal that swallows the real outer GROUP BY
    val commented = SamzaSql.windowedGroupBy(
      "SELECT event_type, COUNT(*) AS cnt FROM events -- user's clicks\n" +
        "GROUP BY event_type",
      1000L, "ts")
    assert(commented.endsWith(
      "GROUP BY window(ts, '1000 milliseconds'), event_type"), commented)
    // 'group by' inside a comment is not a clause
    val commentGb = SamzaSql.windowedGroupBy(
      "SELECT count(*) AS n FROM events -- group by nothing\n",
      1000L, "ts")
    assert(commentGb ==
      "SELECT count(*) AS n FROM events -- group by nothing\n", commentGb)
    // end-to-end: windowed counts sum to the unwindowed counts
    val out = SamzaSql.run(spark, sf0001,
      "INSERT INTO wc SELECT event_type, COUNT(*) AS cnt " +
        "FROM events GROUP BY event_type",
      config = Map(SamzaSql.CfgGroupByWindowMs -> "300000"))
    assert(out.columns.toSeq ==
      Seq("window_start", "event_type", "cnt"))
    val plain = SamzaSql.run(spark, sf0001,
      "INSERT INTO pc SELECT event_type, COUNT(*) AS cnt " +
        "FROM events GROUP BY event_type")
    val summed = out.groupBy("event_type")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
    assert(summed.join(plain, Seq("event_type"))
      .filter(summed("cnt") =!= plain("cnt")).isEmpty)
    assert(out.count() > plain.count()) // windows actually split groups
  }

  test("GetNestedField traverses dotted paths in SQL") {
    SamzaSql.run(spark, sf0001,
      "INSERT INTO y SELECT doc_id FROM documents")
    val r = spark.sql(
      """SELECT GetNestedField(
        |  BuildOutputRecord('a', BuildOutputRecord('b', 42)), 'a.b') AS v
        |""".stripMargin).collect().head
    assert(r.getInt(0) == 42)
    // non-literal path is rejected at plan time
    intercept[Exception] {
      spark.sql("SELECT GetNestedField(BuildOutputRecord('a', 1), lower('A'))")
        .collect()
    }
  }
}
