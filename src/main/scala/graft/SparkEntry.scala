package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator/capability from SURVEY §2 (or a
  * north-star LLM-pipeline operator); [[oracleSql]] holds the DuckDB-equivalent
  * SQL the driver hash-compares against at sf0.01. Float-valued results are
  * either bit-reproducible by construction (identical double operation order
  * on both engines) or scaled+rounded to integers.
  */
object SparkEntry {

  private def withGraft(spark: SparkSession): SparkSession = {
    // events.parquet carries TIMESTAMP(NANOS); read as Long (ns since epoch).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Graft.install(spark); spark
  }

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The events table's `ts` has shipped as both TIMESTAMP(NANOS) (a ns
    * Long under `nanosAsLong`) and TIMESTAMP(MICROS) (a timestamp column) —
    * normalize to ns-since-epoch Long so every downstream consumer keeps one
    * shape. The µs→ns conversion is exact; session tz is UTC everywhere, so
    * the NTZ cast is instant-preserving and matches the DuckDB oracle's
    * `epoch_ns(ts)` on the same file. */
  def eventsTsNs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => df
    case _ => df.withColumn("ts", expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000"))
  }

  /** The testdata dir whose tables are bound as temp views in each session.
    * Each `spark.read.parquet` runs a schema-inference Spark job, so the 10
    * reads happen once per (session, dir), not once per query. The views
    * live in the session's own catalog and the memo holds only the dir
    * string, so a stopped session stays collectable (a cache of DataFrames
    * would pin it: every DataFrame references its session). */
  private val registeredAt = new java.util.WeakHashMap[SparkSession, String]()

  /** Bind the 10 testdata tables of `dir` as temp views in `s` (`events.ts`
    * normalized by [[eventsTsNs]]). Idempotent per (session, dir): a new
    * session or a new dir re-registers all 10, any other call is a lookup. */
  private[graft] def registerTables(s: SparkSession, dir: String): Unit = {
    registeredAt.synchronized {
      if (registeredAt.get(s) == dir) return
    }
    tables.foreach { n =>
      val raw = s.read.parquet(s"$dir/$n.parquet")
      val df = if (n == "events") eventsTsNs(raw) else raw
      df.createOrReplaceTempView(n)
    }
    registeredAt.synchronized { registeredAt.put(s, dir); () }
  }

  /** Register the testdata tables + graft functions, run `sql`. */
  private def q(sql: String)(s: SparkSession, dir: String): DataFrame = {
    withGraft(s); registerTables(s, dir); s.sql(sql)
  }

  /** DataFrame-API operator entry. */
  private def dfq(f: SparkSession => DataFrame)(s: SparkSession, dir: String): DataFrame = {
    withGraft(s); registerTables(s, dir); f(s)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_gcd")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1 UDF-framework conformance ------------------------------------
    "q_gcd" -> q(
      """SELECT l_orderkey, l_linenumber,
        |       gcd(CAST(l_partkey AS INT), CAST(l_suppkey AS INT)) AS g
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) _,
    "q_div_error" -> q(
      """SELECT l_orderkey, l_linenumber, d.value AS div_value, d.error AS div_error
        |FROM (SELECT l_orderkey, l_linenumber,
        |             graft_div(CAST(l_partkey AS INT), CAST(l_suppkey % 7 AS INT)) AS d
        |      FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) _,
    "q_length" -> q(
      """SELECT doc_id, graft_length(text) AS len_s, graft_length(CAST(text AS BINARY)) AS len_b
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // array outputs serialized with array_join: the driver's pandas-based
    // checker cannot sort/hash ndarray cells, so compare as delimited strings.
    "q_split" -> q(
      """SELECT doc_id, array_join(graft_split(text, ' '), '|') AS words
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    "q_array_sum" -> q(
      """SELECT doc_id, array_sum(transform(graft_split(text, ' '), x -> graft_length(x))) AS s
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // struct output flattened to scalar columns for the driver's checker
    "q_key_value" -> q(
      """SELECT l_orderkey, l_linenumber, kv.key AS k, kv.value AS v,
        |       kv_null.key AS nk, kv_null.value AS nv
        |FROM (SELECT l_orderkey, l_linenumber,
        |             key_value(concat(l_returnflag, '=', l_linestatus)) AS kv,
        |             key_value(l_returnflag) AS kv_null
        |      FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) _,
    "q_range_setof" -> q(
      """SELECT l_orderkey, l_linenumber, t.value
        |FROM (SELECT /*+ REPARTITION */ l_orderkey, l_linenumber FROM lineitem)
        |LATERAL VIEW range_setof(l_linenumber) t AS value
        |ORDER BY l_orderkey, l_linenumber, t.value""".stripMargin) _,
    // §2.1 #7 variant: setof-struct generator
    "q_key_values" -> q(
      """SELECT l_orderkey, l_linenumber, t.value.key AS k, t.value.value AS v
        |FROM (SELECT /*+ REPARTITION */ l_orderkey, l_linenumber,
        |             concat(l_returnflag, '=', l_linestatus, ',q=', CAST(l_linenumber AS STRING)) AS s
        |      FROM lineitem)
        |LATERAL VIEW key_values(s) t AS value
        |ORDER BY l_orderkey, l_linenumber, k, v""".stripMargin) _,
    "q_variadic" -> q(
      """SELECT l_orderkey, l_linenumber,
        |       concat_sep('|', l_returnflag, l_linestatus, CAST(l_linenumber AS STRING)) AS c
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) _,
    "q_sum_udaf" -> q(
      """SELECT l_returnflag, sum_udaf(CAST(l_quantity AS INT)) AS s
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) _,
    "q_weighted_avg" -> q(
      """SELECT l_returnflag, weighted_avg(CAST(l_quantity AS INT), l_linenumber) AS wa
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) _,
    "q_median_udaf" -> q(
      """SELECT c_nationkey, median_udaf(c_acctbal) AS m
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) _,
    // bounded-memory variant: O(cap) state per group regardless of group
    // size (exact below the cap — which covers verify scale — so it
    // hash-matches the exact oracle; a 100 TB hot key degrades to a ≤1%
    // centroid sketch instead of an executor OOM)
    "q_median_bounded" -> q(
      """SELECT c_nationkey, median_bounded(c_acctbal) AS m
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) _,

    // extension types: text-backed unconstrained decimal (metadata-resolved)
    "q_decimal_add" -> dfq { s =>
      val df = s.table("lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        Graft.tagged(expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) AS STRING)"), "a",
          graft.types.GraftType.DecimalExt),
        Graft.tagged(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS STRING)"), "b",
          graft.types.GraftType.DecimalExt))
      df.selectExpr("l_orderkey", "l_linenumber", "decimal_add(a, b) AS d")
        .orderBy("l_orderkey", "l_linenumber")
    } _,
    "q_to_json" -> q(
      """SELECT doc_id, graft_to_json(source) AS js, graft_to_json(n_chars) AS jn
        |FROM documents ORDER BY doc_id""".stripMargin) _,

    // §2.1 #13/#19: embedded language runtime (graftscript SPI tier)
    "q_script" -> q(
      """SELECT doc_id, script_score(doc_id) AS s
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // §2.1 #15 via the runtime SPI: every aggregate phase runs guest code
    "q_script_agg" -> q(
      """SELECT l_returnflag, script_sumsq(CAST(l_quantity AS BIGINT)) AS ss
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) _,
    // §2.1 #14: table function through the runtime SPI (multi-value yield)
    "q_script_table" -> q(
      """SELECT l_orderkey, l_linenumber, t.value AS v
        |FROM (SELECT /*+ REPARTITION */ l_orderkey, l_linenumber,
        |             CAST(l_linenumber AS BIGINT) AS n FROM lineitem)
        |LATERAL VIEW script_echoes(n) t AS value
        |ORDER BY l_orderkey, l_linenumber, v""".stripMargin) _,

    // §2.1 #24 WASM guest tier: real wasm bytecode (module built by the
    // graft emitter, functions discovered via the reference's
    // arrowudf_<base64(sig)> export convention) interpreted in a sandbox
    // with fuel + memory limits — see graft.wasm. Plain projection shape:
    // the interpreted call is ~0.9 µs/row through the pooled path (measured,
    // 1.1M calls/s/core), well under scan+sort cost — no fan-out/checkpoint
    // needed, unlike the network-bound remote tiers.
    "q_wasm_gcd" -> q(
      """SELECT l_orderkey, l_linenumber,
        |       wasm_gcd(CAST(l_partkey AS BIGINT), CAST(l_suppkey AS BIGINT)) AS g
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) _,
    "q_wasm_popcnt" -> q(
      """SELECT l_orderkey, l_linenumber,
        |       wasm_popcnt(CAST(l_orderkey AS BIGINT)) AS pc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) _,
    // FOREIGN-binary conformance: these functions come from the checked-in
    // hand-assembled LLVM-shaped fixture (wasm/WasmFixture.scala — section
    // order, custom sections, v128 LEB sub-opcodes all from a non-WasmBuilder
    // emitter), exercising plain ints, the string alloc ABI (ASCII-only
    // derived input: the guest upcases bytes, DuckDB upper() is unicode-
    // aware), and the i64x2 SIMD path
    "q_wasm_real_binary" -> q(
      """SELECT doc_id,
        |  wasm_fx_gcd(CAST(doc_id AS INT) + 7, CAST(pmod(doc_id, 97) AS INT) + 3) AS g,
        |  wasm_fx_upper(concat('doc ', CAST(doc_id AS STRING), ' of ', source)) AS up,
        |  wasm_fx_vadd(doc_id, octet_length(text)) AS va
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // the fixture's i64-state aggregate through all phases + the shuffle
    "q_wasm_real_agg" -> q(
      """SELECT source, wasm_fx_sumsq(CAST(pmod(doc_id, 50) AS INT)) AS ss
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) _,
    // round-2 foreign-fixture matrix: f64 math (sqrt is IEEE
    // correctly-rounded — cross-engine bit-exact), f32x4 SIMD on
    // integer-valued floats (< 2^24, exact in f32), and a bigint spread
    // whose guest consumes an INTERNAL multi-value (i64, i64) call
    "q_wasm_real_math" -> q(
      """SELECT doc_id,
        |  CAST(ROUND(wasm_fx_hypot(CAST(pmod(doc_id, 40) AS DOUBLE),
        |                           CAST(pmod(doc_id, 30) AS DOUBLE)) * 1000) AS BIGINT) AS h3,
        |  CAST(wasm_fx_fma(CAST(pmod(doc_id, 100) AS FLOAT), CAST(pmod(doc_id, 50) AS FLOAT),
        |                   CAST(pmod(doc_id, 25) AS FLOAT)) AS BIGINT) AS f,
        |  wasm_fx_spread(doc_id, CAST(octet_length(text) AS BIGINT)) AS sp
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // foreign-fixture TABLE function through the out-buffer ABI (divisor
    // counts straddle the 64-slot initial cap nowhere here, but the same
    // overflow handshake is spec-pinned in WasmSpec at n = 55440)
    "q_wasm_real_table" -> q(
      """SELECT doc_id, t.d AS d
        |FROM (SELECT doc_id, CAST(pmod(doc_id, 36) + 1 AS INT) AS n FROM documents)
        |LATERAL VIEW wasm_fx_divisors(n) t AS d
        |ORDER BY doc_id, d""".stripMargin) _,
    // COMPILER-built foreign binary: wasm_rs_* come from fixture_rustc.wasm —
    // real rustc/LLVM codegen for wasm32-unknown-unknown out of a no_core
    // crate (tools/wasm_conformance.rs + build_wasm_conformance.sh), so
    // instruction selection / block layout / register pressure are LLVM's,
    // not graft's emitter and not a hand-written byte script. Same gate
    // families as the hand-assembled fixture: ints, IEEE f64/f32 (exact:
    // integer-valued operands), the string alloc ABI, the out-buffer table
    // ABI, and the i64-state aggregate through all phases + the shuffle
    "q_wasm_rustc_math" -> q(
      """SELECT doc_id,
        |  wasm_rs_gcd(doc_id + 30, CAST(pmod(doc_id, 89) AS BIGINT) + 5) AS g,
        |  wasm_rs_mix(CAST(doc_id AS INT), CAST(pmod(doc_id, 61) AS INT) + 1) AS m,
        |  CAST(wasm_rs_poly(CAST(pmod(doc_id, 37) AS DOUBLE),
        |                    CAST(pmod(doc_id, 23) AS DOUBLE)) AS BIGINT) AS p,
        |  CAST(wasm_rs_fma(CAST(pmod(doc_id, 90) AS FLOAT), CAST(pmod(doc_id, 45) AS FLOAT),
        |                   CAST(pmod(doc_id, 20) AS FLOAT)) AS BIGINT) AS f
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    "q_wasm_rustc_binary" -> q(
      """SELECT doc_id,
        |  wasm_rs_upper(concat('rs ', CAST(doc_id AS STRING), ' of ', source)) AS up
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    "q_wasm_rustc_table" -> q(
      """SELECT doc_id, t.d AS d
        |FROM (SELECT doc_id, CAST(pmod(doc_id, 30) + 1 AS INT) AS n FROM documents)
        |LATERAL VIEW wasm_rs_divisors(n) t AS d
        |ORDER BY doc_id, d""".stripMargin) _,
    "q_wasm_rustc_agg" -> q(
      """SELECT source, wasm_rs_sumsq(CAST(pmod(doc_id, 40) AS INT)) AS ss
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) _,
    // LLVM's own SIMD instruction selection (the crate builds with
    // -C target-feature=+simd128; the loop vectorizer turns rs_count_eq's
    // byte loop into i8x16 compares) through the interpreter's
    // shadow-stack v128 path — unlike q_wasm_simd_count, whose v128 bytes
    // are WasmBuilder-scripted, these were CHOSEN by a compiler
    "q_wasm_rustc_simd" -> q(
      """SELECT doc_id, wasm_rs_count(text, 101) AS ne, wasm_rs_count(text, 32) AS nsp
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // error column through REAL compiler output: LLVM's own zero-divisor
    // guard calls the crate's trap shim (an immediate OOB store — no_core
    // cannot emit `unreachable`), the interpreter traps, the row lands in
    // the error column, the task never fails
    "q_wasm_rustc_err" -> q(
      """SELECT l_orderkey, l_linenumber, d.value AS div_value, d.error AS div_error
        |FROM (SELECT l_orderkey, l_linenumber,
        |        wasm_rs_div(CAST(l_partkey AS BIGINT), CAST(l_suppkey % 7 AS BIGINT)) AS d
        |      FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) _,
    // string arg rides the reference FFI ABI: host calls the guest's
    // exported alloc, copies UTF-8 bytes into linear memory, passes (ptr,len)
    "q_wasm_count_byte" -> q(
      """SELECT doc_id, wasm_count_byte(text, 101) AS ne
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // the same scan through the v128 SIMD tier: 16-lane compare + bitmask +
    // popcnt per iteration instead of a per-byte loop
    "q_wasm_simd_count" -> q(
      """SELECT doc_id, wasm_count_simd(text, 97) AS na
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // STRING RETURN through the FFI alloc ABI's other direction: the guest
    // returns a packed (ptr << 32 | len) i64 and the host copies the bytes
    // out of linear memory (documents.text is ASCII, so the byte-indexed
    // guest kernel matches DuckDB's char-indexed substr)
    "q_wasm_substring" -> q(
      """SELECT doc_id, wasm_substring(text, 8, 24) AS sub
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // five-phase aggregate with every phase a wasm export (i64 state rides
    // Spark's partial aggregation + shuffle)
    "q_wasm_sum_udaf" -> q(
      """SELECT l_returnflag, wasm_sum(CAST(l_quantity AS BIGINT)) AS s
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) _,
    // blob-state aggregate: TWO i64 accumulators ride the shuffle as a
    // 16-byte guest blob (integer-exact, divided only at finish)
    "q_wasm_weighted_avg" -> q(
      """SELECT l_returnflag, wasm_wavg(CAST(l_quantity AS INT), l_linenumber) AS wa
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) _,
    // table function through the out-buffer ABI (reference wasm table fns,
    // `wasm/mod.rs:283-319`): guest writes 8-byte slots, host re-calls on
    // overflow; surfaces as an ordinary LATERAL VIEW generator
    "q_wasm_table" -> q(
      """SELECT l_orderkey, l_linenumber, t.d AS d
        |FROM (SELECT /*+ REPARTITION */ l_orderkey, l_linenumber,
        |             CAST(l_linenumber AS BIGINT) AS n FROM lineitem)
        |LATERAL VIEW wasm_divisors(n) t AS d
        |ORDER BY l_orderkey, l_linenumber, d""".stripMargin) _,
    // funcref-table dispatch: a passive element segment seeds the table via
    // table.init in the module's START function, and the kernel picks
    // add/sub/mul through call_indirect — the compiled function-pointer
    // shape real cdylibs use
    "q_wasm_dispatch" -> q(
      """SELECT l_orderkey, l_linenumber,
        |       wasm_sel(CAST(l_orderkey % 3 AS BIGINT), CAST(l_quantity AS BIGINT),
        |                CAST(l_linenumber AS BIGINT)) AS r
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) _,
    // wasm div-by-zero traps surface on the error column, never fail the task
    // REPARTITION fan-out before the per-row wasm work: the sf0.1 tables are
    // single parquet files (one scan partition), and ~5 µs/row fallible guest
    // calls serialized on one core dominate the query otherwise
    "q_wasm_div_error" -> q(
      """SELECT l_orderkey, l_linenumber, d.value AS div_value, d.error AS div_error
        |FROM (SELECT l_orderkey, l_linenumber,
        |             wasm_div(CAST(l_partkey AS BIGINT), CAST(l_suppkey % 7 AS BIGINT)) AS d
        |      FROM (SELECT /*+ REPARTITION */ l_orderkey, l_linenumber, l_partkey, l_suppkey
        |            FROM lineitem))
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) _,

    // Columnar batch tier: gcd evaluated directly on the vectorized parquet
    // reader's ColumnarBatch (custom supportsColumnar SparkPlan, zero row
    // materialization between scan and kernel)
    "q_columnar_gcd" -> dfq { s =>
      val df = s.table("lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      graft.plans.ColumnarMap.withBatchColumn(df, "g", Seq("l_partkey", "l_suppkey"),
          org.apache.spark.sql.types.LongType, graft.plans.ColumnarMap.GcdLongKernel)
        .selectExpr("l_orderkey", "l_linenumber", "CAST(g AS INT) AS g")
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // §2.1 #26/#27: the SAME gcd computed through the remote Arrow-IPC path
    // (per-partition pooled client → in-process server → registry dispatch)
    "q_remote_gcd" -> dfq { s =>
      val port = graft.remote.RemoteFixture.port
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_partkey AS INT) AS a", "CAST(l_suppkey AS INT) AS b")
      // localCheckpoint: the orderBy's range-partitioner SAMPLES its child,
      // which would re-run the whole remote exchange a second time; pin the
      // augmented frame first so the wire work happens exactly once.
      graft.remote.RemoteUdf.withRemoteColumn(df, Seq(("127.0.0.1", port)), "gcd",
          Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("l_orderkey", "l_linenumber", "value AS g")
        .localCheckpoint()
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // §2.1 #26/#9: DICTIONARY-ENCODED string arguments over the PLAIN
    // Arrow-IPC/TCP wire — the non-Flight twin of q_flight_dict_srv. The
    // encode/decode sites (RemoteProtocol.dictionaryEncodeStrings /
    // logicalField / batchCellReaders) are shared by both wires; this gate
    // pins them on this wire too, so a regression in either direction of
    // the dictionary codec cannot hide behind the Flight-only gates.
    "q_remote_dict" -> dfq { s =>
      val port = graft.remote.RemoteFixture.port
      val df = s.table("documents").selectExpr("doc_id", "text")
      graft.remote.RemoteUdf.withRemoteColumnDict(df, Seq(("127.0.0.1", port)),
          "graft_length", Seq("text"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("doc_id", "value AS n")
        .localCheckpoint()
        .orderBy("doc_id")
    } _,

    // §2.1 #26 wire-type breadth: a MAP column rides the remote Arrow-IPC
    // path (canonical Arrow Map layout) through graft_identity and is
    // rendered back to JSON engine-side for the oracle.
    "q_remote_map" -> dfq { s =>
      val port = graft.remote.RemoteFixture.port
      val df = s.table("lineitem")
        .selectExpr("l_orderkey", "l_linenumber",
          "map('rf', l_returnflag, 'ls', l_linestatus) AS m")
      graft.remote.RemoteUdf.withRemoteColumn(df, Seq(("127.0.0.1", port)), "graft_identity",
          Seq("m"), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
        .selectExpr("l_orderkey", "l_linenumber", "graft_to_json(value) AS mj")
        .localCheckpoint() // exchange runs once; sort sampling reads the checkpoint
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // §2.1 #13/#28: the SAME gcd through a REAL CPython guest — the pyarrow
    // worker subprocess (tools/pyudf_server.py) speaks the identical
    // LIST/GET/CALL framing, so the Spark integration is byte-for-byte the
    // remote path; only the process on the far end changes.
    "q_python_gcd" -> dfq { s =>
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_partkey AS INT) AS a", "CAST(l_suppkey AS INT) AS b")
      // partitions round-robin across the CPython interpreter POOL (one GIL
      // per process — parallelism comes from many processes, §2.1 #18 note)
      graft.remote.RemoteUdf.withRemoteColumn(df, graft.remote.PythonWorker.endpoints, "gcd",
          Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("l_orderkey", "l_linenumber", "value AS g")
        .localCheckpoint() // exchange runs once; sort sampling reads the checkpoint
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // §2.1 #14/#28: CPython table function (generator) over the wire —
    // each document explodes into its whitespace tokens inside the guest.
    "q_python_split" -> dfq { s =>
      val df = s.table("documents").selectExpr("doc_id", "text")
      graft.remote.RemoteUdf.withRemoteTableColumn(df, graft.remote.PythonWorker.endpoints,
          "py_split", Seq("text"), org.apache.spark.sql.types.StringType)
        .selectExpr("doc_id", "value AS tok")
        .localCheckpoint() // exchange runs once; sort sampling reads the checkpoint
        .orderBy("doc_id", "tok")
    } _,

    // §2.1 #26 ARROW FLIGHT WIRE: the same gcd through graft's from-scratch
    // gRPC/HTTP2 Flight client (remote/flight/*) calling a REAL
    // pyarrow.flight server (grpc-core, tools/flightudf_server.py) — the
    // reference's actual transport (`remote/mod.rs:36-156`), end-to-end.
    "q_flight_gcd" -> dfq { s =>
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_partkey AS INT) AS a", "CAST(l_suppkey AS INT) AS b")
      graft.remote.flight.FlightUdf.withFlightColumn(df,
          graft.remote.flight.FlightWorker.endpoints, "flight_gcd",
          Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("l_orderkey", "l_linenumber", "value AS g")
        .localCheckpoint() // exchange runs once; sort sampling reads the checkpoint
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // Flight wire, scalar string arg/int return (DoExchange with varlen
    // buffers crossing the h2 flow-control windows).
    "q_flight_len" -> dfq { s =>
      val df = s.table("documents").selectExpr("doc_id", "text")
      graft.remote.flight.FlightUdf.withFlightColumn(df,
          graft.remote.flight.FlightWorker.endpoints, "flight_len",
          Seq("text"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("doc_id", "value AS n")
        .localCheckpoint()
        .orderBy("doc_id")
    } _,

    // Flight wire, DICTIONARY-ENCODED RESULT columns: the pyarrow server's
    // flight_len_bucket advertises dictionary<int32,string> and every result
    // batch arrives as DictionaryBatch + index RecordBatch; graft's client
    // resolves the dictionaries (the shape low-cardinality string results
    // take at scale — SDK readers resolve it invisibly, ours explicitly).
    "q_flight_dict" -> dfq { s =>
      val df = s.table("documents").selectExpr("doc_id", "text")
      graft.remote.flight.FlightUdf.withFlightColumn(df,
          graft.remote.flight.FlightWorker.endpoints, "flight_len_bucket",
          Seq("text"), org.apache.spark.sql.types.StringType)
        .selectExpr("doc_id", "value AS bucket")
        .localCheckpoint()
        .orderBy("doc_id")
    } _,

    // Flight wire, DICTIONARY-ENCODED ARGUMENT columns through graft's OWN
    // server: the client ships string args as schema-declared dictionary
    // encodings (inline DictionaryBatch per exchange — what a
    // dictionary-preserving parquet producer emits); FlightServer passes
    // them through and the backend decodes + resolves the string overload.
    "q_flight_dict_srv" -> dfq { s =>
      val df = s.table("documents").selectExpr("doc_id", "text")
      graft.remote.flight.FlightUdf.withFlightColumnDict(df,
          Seq(("127.0.0.1", graft.remote.flight.FlightFixture.port)), "graft_length",
          Seq("text"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("doc_id", "value AS n")
        .localCheckpoint()
        .orderBy("doc_id")
    } _,

    // Flight wire-type breadth: Decimal128 BOTH directions with real guest
    // arithmetic (the reference's decimal scenario, tests/remote.rs
    // test_decimal_add) — python Decimal adds, Decimal128 vectors carry.
    "q_flight_decimal" -> dfq { s =>
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_extendedprice AS DECIMAL(18,2)) AS a",
        "CAST(l_tax AS DECIMAL(18,2)) AS b")
      graft.remote.flight.FlightUdf.withFlightColumn(df,
          graft.remote.flight.FlightWorker.endpoints, "flight_dec_add",
          Seq("a", "b"), org.apache.spark.sql.types.DecimalType(18, 2))
        .selectExpr("l_orderkey", "l_linenumber", "CAST(value AS STRING) AS dstr")
        .localCheckpoint()
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // Flight wire, table function: (row_index, value) explode semantics over
    // DoExchange (reference `call_table_function`, `remote/mod.rs:121-132`).
    "q_flight_split" -> dfq { s =>
      val df = s.table("documents").selectExpr("doc_id", "text")
      graft.remote.flight.FlightUdf.withFlightTableColumn(df,
          graft.remote.flight.FlightWorker.endpoints, "flight_words",
          Seq("text"), org.apache.spark.sql.types.StringType)
        .selectExpr("doc_id", "value AS tok")
        .localCheckpoint()
        .orderBy("doc_id", "tok")
    } _,

    // graft AS the Flight server, under the oracle: the error column served
    // over the real wire (FlightInfo advertises (value, error); DoExchange
    // passes through to the CALLERR tier) — client and server both graft's
    // from-scratch gRPC stack, composed on loopback.
    "q_flight_div_error" -> dfq { s =>
      val port = graft.remote.flight.FlightFixture.port
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_partkey AS INT) AS a", "CAST(l_suppkey % 7 AS INT) AS b")
      graft.remote.flight.FlightUdf.withFlightFallibleColumn(df, Seq(("127.0.0.1", port)),
          "graft_div", Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("l_orderkey", "l_linenumber", "value AS div_value", "error AS div_error")
        .localCheckpoint()
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // graft AS the Flight server, STREAMED mode under the oracle: one
    // long-lived DoExchange per partition ping-pongs every chunk through the
    // server's incremental per-batch dispatch (the reference UdfProducer
    // multi-batch loop) — each chunk's results are read back before the next
    // chunk is sent, so this gate passing proves the server evaluates
    // batches as they arrive. Client AND server are graft's from-scratch
    // gRPC/h2 stack, composed on loopback.
    "q_flight_stream_gcd" -> dfq { s =>
      val port = graft.remote.flight.FlightFixture.port
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_partkey AS INT) AS a", "CAST(l_suppkey AS INT) AS b")
      graft.remote.flight.FlightUdf.withFlightColumnStreamed(df, Seq(("127.0.0.1", port)),
          "gcd", Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("l_orderkey", "l_linenumber", "value AS g")
        .localCheckpoint()
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // Streamed mode + the fallible error column: the (value, error) pair
    // keeps results 1:1 with input rows, so it ping-pongs over one
    // long-lived exchange exactly like a scalar — per-row error containment
    // through the incremental CALLERR passthrough.
    "q_flight_stream_div_error" -> dfq { s =>
      val port = graft.remote.flight.FlightFixture.port
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_partkey AS INT) AS a", "CAST(l_suppkey % 7 AS INT) AS b")
      graft.remote.flight.FlightUdf.withFlightFallibleColumnStreamed(df,
          Seq(("127.0.0.1", port)),
          "graft_div", Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("l_orderkey", "l_linenumber", "value AS div_value", "error AS div_error")
        .localCheckpoint()
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // graft AS the Flight server: table-function explode (range_setof)
    // through FlightServer's byte-level CALLTABLE passthrough.
    "q_flight_setof" -> dfq { s =>
      val port = graft.remote.flight.FlightFixture.port
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_linenumber AS INT) AS n")
      graft.remote.flight.FlightUdf.withFlightTableColumn(df, Seq(("127.0.0.1", port)),
          "range_setof", Seq("n"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("l_orderkey", "l_linenumber", "value")
        .localCheckpoint()
        .orderBy("l_orderkey", "l_linenumber", "value")
    } _,

    // §2.1 #15: the full aggregate lifecycle evaluated in the CPython guest —
    // Spark hash aggregation drives create_state/accumulate over the wire
    // per partition (partial), ships opaque pickled states through the
    // shuffle, then merge + finish guest-side. int64 sum ⇒ exact fold, so
    // the DuckDB oracle hash-matches regardless of row order.
    "q_python_sum_udaf" -> dfq { s =>
      graft.remote.RemoteAgg.register(s, "py_sum_i64",
        graft.remote.PythonWorker.endpoints, "sum_i64",
        org.apache.spark.sql.types.LongType)
      s.table("lineitem")
        .selectExpr("l_returnflag", "CAST(l_quantity AS BIGINT) AS q")
        .groupBy("l_returnflag")
        .agg(org.apache.spark.sql.functions.call_function("py_sum_i64", col("q")).as("sum_qty"))
        .orderBy("l_returnflag")
    } _,

    // §2.1 #19: the SAME gcd through a REAL JavaScript engine — the Node/V8
    // sidecar pool (tools/jsudf_server.js) speaks the identical command
    // topology over a JSON-framed body; real JS arrow functions evaluate
    // per batch with per-partition pooled connections.
    "q_js_gcd" -> dfq { s =>
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_partkey AS INT) AS a", "CAST(l_suppkey AS INT) AS b")
      graft.remote.JsUdf.withJsColumn(df, graft.remote.JsWorker.endpoints, "gcd",
          Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("l_orderkey", "l_linenumber", "value AS g")
        .localCheckpoint() // exchange runs once; sort sampling reads the checkpoint
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // §2.1 #19 int64 exactness: BIGINT args/results cross the JSON wire as
    // decimal strings and run as real JS BigInt — the multiply pushes
    // intermediates past 2^53, so a Number-based wire would silently round.
    "q_js_hash64" -> dfq { s =>
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber")
      graft.remote.JsUdf.withJsColumn(df, graft.remote.JsWorker.endpoints,
          "js_hash64", Seq("l_orderkey"), org.apache.spark.sql.types.LongType)
        .selectExpr("l_orderkey", "l_linenumber", "value AS h")
        .localCheckpoint()
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // §2.1 #19 table fn: a JS GENERATOR function explodes each document into
    // its whitespace tokens inside V8.
    "q_js_split" -> dfq { s =>
      val df = s.table("documents").selectExpr("doc_id", "text")
      graft.remote.JsUdf.withJsTableColumn(df, graft.remote.JsWorker.endpoints,
          "js_split", Seq("text"), org.apache.spark.sql.types.StringType)
        .selectExpr("doc_id", "value AS tok")
        .localCheckpoint()
        .orderBy("doc_id", "tok")
    } _,

    // §2.1 #19 aggregate: the five-phase lifecycle with the state held as a
    // JS value — Spark hash aggregation drives create/accumulate/merge/finish
    // in V8 through the remote operator's FailoverSession.
    "q_js_sum_udaf" -> dfq { s =>
      graft.remote.JsUdf.registerAggregate(s, "js_sum",
        graft.remote.JsWorker.endpoints, "js_sum",
        org.apache.spark.sql.types.LongType)
      s.table("lineitem")
        .selectExpr("l_returnflag", "CAST(l_quantity AS INT) AS q")
        .groupBy("l_returnflag")
        .agg(org.apache.spark.sql.functions.call_function("js_sum", col("q")).as("sum_qty"))
        .orderBy("l_returnflag")
    } _,

    // §2.1 #6 over the wire: the ERROR COLUMN rides the remote protocol —
    // a guest row that throws yields (NULL value, message) instead of
    // aborting the exchange (reference python/mod.rs:382-390
    // append_error_to_schema). Same message convention as the in-process
    // fallible tier, so q_div_error and q_remote_div_error oracles align.
    "q_remote_div_error" -> dfq { s =>
      val port = graft.remote.RemoteFixture.port
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_partkey AS INT) AS a", "CAST(l_suppkey % 7 AS INT) AS b")
      graft.remote.RemoteUdf.withRemoteFallibleColumn(df, Seq(("127.0.0.1", port)),
          "graft_div", Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("l_orderkey", "l_linenumber", "value AS div_value", "error AS div_error")
        .localCheckpoint() // exchange runs once; sort sampling reads the checkpoint
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // §2.1 #13 error column in the CPython guest: ZeroDivisionError messages
    // captured per row, "ExcType: msg" like the reference's PyErr rendering.
    "q_python_div_error" -> dfq { s =>
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_partkey AS INT) AS a", "CAST(l_suppkey % 7 AS INT) AS b")
      graft.remote.RemoteUdf.withRemoteFallibleColumn(df,
          graft.remote.PythonWorker.endpoints, "py_div", Seq("a", "b"),
          org.apache.spark.sql.types.IntegerType)
        .selectExpr("l_orderkey", "l_linenumber", "value AS div_value", "error AS div_error")
        .localCheckpoint()
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // §2.1 #19 error column in V8: a throwing JS row carries its message.
    "q_js_div_error" -> dfq { s =>
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_partkey AS INT) AS a", "CAST(l_suppkey % 7 AS INT) AS b")
      graft.remote.JsUdf.withJsFallibleColumn(df, graft.remote.JsWorker.endpoints,
          "js_div", Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
        .selectExpr("l_orderkey", "l_linenumber", "value AS div_value", "error AS div_error")
        .localCheckpoint()
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // §2.1 #26 wire-type breadth: a DECIMAL(18,2) column round-trips the
    // remote Arrow path (Decimal128 vectors) through graft_identity.
    "q_remote_decimal" -> dfq { s =>
      val port = graft.remote.RemoteFixture.port
      val df = s.table("lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CAST(l_extendedprice AS DECIMAL(18,2)) AS d")
      graft.remote.RemoteUdf.withRemoteColumn(df, Seq(("127.0.0.1", port)), "graft_identity",
          Seq("d"), org.apache.spark.sql.types.DecimalType(18, 2))
        .selectExpr("l_orderkey", "l_linenumber", "CAST(value AS STRING) AS dstr")
        .localCheckpoint() // exchange runs once; sort sampling reads the checkpoint
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // §2.1 #16: retractable aggregation as a BATCH CDC replay — every row
    // inserts, 'R'-flagged rows also retract (the reference's per-row ops
    // flag, python/mod.rs:519-582); the fold drives accumulate AND retract
    // through the same GraftAggregate the streaming runner uses, and the
    // surviving state hash-matches a plain re-aggregation oracle.
    "q_retract_sum" -> dfq { s =>
      import s.implicits._
      val li = s.table("lineitem").selectExpr("l_linestatus AS key",
        "CAST(l_quantity AS INT) AS value", "l_returnflag = 'R' AS is_r")
      val inserts = li.selectExpr("key", "false AS op", "value")
      val retracts = li.where("is_r").selectExpr("key", "true AS op", "value")
      val cdc = inserts.unionAll(retracts)
        .as[graft.streaming.Streaming.OpRow]
      graft.streaming.Streaming.retractingSum(cdc, new graft.functions.SumAgg)
        .toDF("key", "result")
        .orderBy("key")
    } _,

    // struct_of_all: every scalar type through ONE struct value, flattened
    // for the checker; zero-arg fns + repeat_value table fn alongside
    "q_struct_of_all" -> q(
      """SELECT o_orderkey, st.b, st.i32, st.i64,
        |       CAST(ROUND(st.f64 * 10000) AS BIGINT) AS f4, st.s, st.d, st.ts,
        |       zero() AS z, graft_null() AS nl, t.value AS rep
        |FROM (SELECT o_orderkey, struct_of_all(CAST(o_orderkey % 1000 AS INT)) AS st
        |      FROM orders)
        |LATERAL VIEW repeat_value(CAST(o_orderkey % 3 AS INT), 2) t AS value
        |ORDER BY o_orderkey""".stripMargin) _,

    // ---- type matrix: date/time/timestamp/interval/map end-to-end ----------
    // datetime(date32, time64) -> timestamp: compose a date and a µs-of-day
    // (extension-tagged bigint) into a naive timestamp (reference datetime).
    "q_datetime" -> dfq { s =>
      val df = s.table("orders").select(
        col("o_orderkey"),
        expr("CAST(o_orderdate AS DATE)").as("d"),
        Graft.tagged(expr("CAST((o_orderkey % 86400) * 1000000 AS BIGINT)"), "t",
          graft.types.GraftType.TimeExt))
      df.selectExpr("o_orderkey", "datetime(d, t) AS ts").orderBy("o_orderkey")
    } _,
    // timestamptz through the identity conversion matrix; compared as epoch
    // millis (Spark writes instant-adjusted parquet, DuckDB naive — integers
    // compare exactly).
    "q_timestamptz" -> q(
      """SELECT o_orderkey, unix_millis(graft_identity(CAST(o_orderdate AS TIMESTAMP))) AS ms
        |FROM orders ORDER BY o_orderkey""".stripMargin) _,
    // interval identity + integer decomposition
    "q_interval" -> q(
      """SELECT o_orderkey, p.months, p.days, p.micros
        |FROM (SELECT o_orderkey, interval_parts(graft_identity(
        |        make_interval(0, CAST(o_orderkey % 11 AS INT), 0, CAST(o_orderkey % 27 AS INT),
        |                      CAST(o_orderkey % 23 AS INT), 0, 0))) AS p
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin) _,
    // map identity, rendered as JSON for the checker. The render projects
    // AFTER the sort: range partitioning samples (= re-executes) its child to
    // pick bounds, so keeping the expensive projection above the Sort halves
    // the per-row work and shuffles narrow columns instead of rendered JSON.
    "q_map_identity" -> q(
      """SELECT l_orderkey, l_linenumber,
        |       graft_to_json(graft_identity(map('rf', l_returnflag, 'ls', l_linestatus))) AS mj
        |FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber)""".stripMargin) _,

    // ---- text analysis -----------------------------------------------------
    "q_token_count" -> q(
      """SELECT doc_id, token_count(text) AS n_tok, token_count_bpe(text) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    "q_lang_id" -> q(
      """SELECT doc_id, lang, lang_id(text) AS pred
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    "q_quality" -> q(
      """SELECT doc_id, quality_score(text) AS score
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    "q_fingerprint" -> q(
      """SELECT doc_id, doc_fingerprint(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    "q_word_ngrams" -> q(
      """SELECT doc_id, array_join(word_ngrams(text, 2), '|') AS ngrams
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    "q_redact" -> q(
      """SELECT doc_id, redact_pii(text) AS red
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    "q_sentences" -> q(
      """SELECT doc_id, t.value AS sentence
        |FROM documents LATERAL VIEW split_sentences(text) t AS value
        |ORDER BY doc_id, sentence""".stripMargin) _,
    // context-window chunking ahead of tokenization: 400-char windows,
    // stride 300 (25% overlap), position carried for reassembly
    "q_chunks" -> q(
      """SELECT doc_id, t.c.pos AS pos, t.c.chunk AS chunk
        |FROM documents LATERAL VIEW chunk_text(text, 400, 300) t AS c
        |ORDER BY doc_id, pos""".stripMargin) _,
    "q_repetition" -> q(
      """SELECT doc_id, CAST(ROUND(repetition_ratio(text, 3) * 10000) AS BIGINT) AS r4
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // deterministic train/val/test split: 8/1/1 by hash bucket
    "q_split_bucket" -> q(
      """SELECT doc_id, split_bucket(doc_id, 'v1', 10) AS bucket,
        |       CASE WHEN split_bucket(doc_id, 'v1', 10) < 8 THEN 'train'
        |            WHEN split_bucket(doc_id, 'v1', 10) = 8 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin) _,

    // ---- corpus construction (Curation ops) --------------------------------
    // benchmark decontamination (GPT-3-style n-gram overlap rule): corpus
    // docs sharing any word-8-gram with the benchmark subset (doc_id % 5 = 0)
    // are contaminated. Benchmark n-grams broadcast; no corpus-sized shuffle.
    "q_decontaminate" -> dfq { s =>
      val docs = s.table("documents")
      graft.ops.Curation.decontaminate(
        docs.where("doc_id % 5 <> 0"), docs.where("doc_id % 5 = 0"),
        "text", "doc_id", n = 8).orderBy("doc_id")
    } _,
    // global sentence-level dedup (CCNet shape) over a corpus with planted
    // echo docs — truncated copies of every 50th doc, derived in-query
    // (testdata is read-only): echoes lose their duplicated sentences and
    // keep only the truncation fragment, originals survive intact.
    "q_sentence_dedup" -> dfq { s =>
      val docs = s.table("documents")
      val corpus = docs.select("doc_id", "text").unionAll(
        docs.where("doc_id % 50 = 0")
          .selectExpr("doc_id + 1000000 AS doc_id", "substr(text, 1, 200) AS text"))
      graft.ops.Curation.dedupSentences(corpus, "text", "doc_id").orderBy("doc_id")
    } _,
    // repeated-span dedup (Lee et al. exact-substring rule): tokens covered
    // by an 8-gram first seen elsewhere are removed; exact-duplicate docs
    // vanish entirely, partial echoes keep only their novel spans
    "q_dedup_spans" -> dfq { s =>
      graft.ops.Curation.dedupSpans(s.table("documents"), "text", "doc_id", n = 8)
        .orderBy("doc_id")
    } _,
    // deterministic stratified mixture sampling: per-source permille rates,
    // membership a pure function of the salted doc id (no RNG state)
    "q_mixture_sample" -> dfq { s =>
      graft.ops.Curation.stratifiedSample(s.table("documents"), "doc_id", "mix",
          expr("200 + 37 * (CAST(substring(source, 4) AS INT) % 20)"))
        .select("doc_id", "source").orderBy("doc_id")
    } _,
    // deterministic upsampling (epoch weighting): per-source weights 0-3 —
    // weight-0 sources drop, weight-3 sources triple (the >1-weight half of
    // mixture construction; q_mixture_sample is the <1 half)
    "q_upsample" -> dfq { s =>
      graft.ops.Curation.upsample(s.table("documents"),
          expr("CAST(substring(source, 4) AS INT) % 4"))
        .select("doc_id", "copy", "source").orderBy("doc_id", "copy")
    } _,
    // greedy first-fit sequence packing: 512-token bins within each source
    // stratum, walked in doc_id order (strata are the parallelism unit)
    "q_pack_sequences" -> dfq { s =>
      val docs = s.table("documents").selectExpr("source", "doc_id",
        "token_count(text) AS n_tok")
      graft.ops.Curation.packSequences(docs, "source", "doc_id", "n_tok", budget = 512)
        .orderBy("source", "doc_id")
    } _,
    // capstone v3 — v2's declarative gates PLUS the model-based LM
    // perplexity gate (CCNet's recipe end-to-end): the unigram model is
    // trained by the engine (one counted shuffle, bounded top-V), broadcast,
    // and the bits/token gate composes with the text_stats gates + exact
    // dedup + PII scrub in one query. The LM side joins on doc_id only.
    "q_curate_v3" -> dfq { s =>
      val docs = s.table("documents")
      graft.ops.LangModel.lmScore(docs, docs, "text", "doc_id", vocabSize = 16)
        .createOrReplaceTempView("lm_scores")
      // winners materialized ONCE: subquery pushdown otherwise replants the
      // fingerprint groupBy (a full corpus scan) into every join branch
      docs.groupBy(expr("doc_fingerprint(text)"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        .localCheckpoint(true).createOrReplaceTempView("dedup_winners_v3")
      s.sql(
        """SELECT d.doc_id, t.st.lang AS lang_pred, t.st.n_tok AS n_tok,
          |       l.bits_per_tok, redact_pii(d.text) AS clean_text
          |FROM documents d
          |JOIN lm_scores l ON l.doc_id = d.doc_id
          |LATERAL VIEW text_stats(d.text) t AS st
          |WHERE t.st.score >= 0.3 AND t.st.n_tok >= 20 AND t.st.lang <> 'und'
          |  AND t.st.rep3 <= 0.5
          |  AND l.bits_per_tok <= 9
          |  AND d.doc_id IN (SELECT doc_id FROM dedup_winners_v3)
          |ORDER BY d.doc_id""".stripMargin)
    } _,
    // LM surprisal quality gate (the CCNet perplexity-filter shape): unigram
    // model trained on the corpus by the engine (top-16 vocab — half the
    // testdata vocabulary, so truncation/OOV is exercised), scored as exact
    // integer bit-surprisal (order-independent sums — oracle bit-parity)
    "q_lm_score" -> dfq { s =>
      val docs = s.table("documents")
      graft.ops.LangModel.lmScore(docs, docs, "text", "doc_id", vocabSize = 16)
        .orderBy("doc_id")
    } _,
    // adaptive percentile gate: keep the lowest-surprisal 30% where the
    // threshold itself is computed FROM the corpus (integer histogram
    // cumsum — exact, order-free, bit-replayable; float percentile
    // interpolation formulas differ across engines and could not be gated)
    "q_gate_adaptive" -> dfq { s =>
      val docs = s.table("documents")
      // persisted across the two consumers (threshold collect + gated
      // output) so the LM scoring lineage runs once, not twice
      val lm = graft.ops.LangModel.lmScore(docs, docs, "text", "doc_id", vocabSize = 16)
        .persist()
      val thr = graft.ops.LangModel.adaptiveThreshold(lm, "bits_per_tok", 30)
      lm.where(col("bits_per_tok") <= lit(thr.getOrElse(Long.MinValue)))
        .select(col("doc_id"), col("bits_per_tok"))
        .orderBy("doc_id")
    } _,
    // integer-exact TF-IDF keyword ranking: 'dup' is rare (high idf) so the
    // planted duplicate docs rank first; common terms contribute low weight
    "q_tfidf" -> dfq { s =>
      graft.ops.LangModel.tfIdf(s.table("documents"),
          Seq("dup", "spark", "scan"), "text", "doc_id")
        .orderBy(desc("score"), asc("doc_id"))
    } _,
    // compressibility junk signal (Gopher/MassiveText rule): DEFLATE has no
    // SQL replica, so the RATIOS are spec-gated (bounds on deterministic
    // fixtures, FunctionsSpec) while the oracle row gates the PROPERTIES the
    // compression path must always satisfy, computed engine-side and pinned
    // to 1 by the oracle: inflate∘deflate identity per document, the ratio
    // inside (0, 1 + overhead/n] with overhead = 32 + n/1024 (a TRUE zlib
    // bound: stored-block worst case adds ~5 bytes per 64 KiB block plus
    // the 6-byte header/trailer, comfortably under one byte per KiB), and
    // self-concatenation never compressing worse (back-references make the
    // repeat ~free) — plus the exact UTF-8 byte length both engines can
    // compute. A corrupted zlib path flips a flag to 0 and the gate fails.
    "q_compress" -> q(
      """SELECT doc_id,
        |  CAST(octet_length(text) AS BIGINT) AS nbytes,
        |  CAST(CASE WHEN compress_roundtrip_ok(coalesce(text, ''))
        |    THEN 1 ELSE 0 END AS BIGINT) AS rt_ok,
        |  CAST(CASE WHEN compress_ratio(coalesce(text, '')) > 0.0
        |    AND compress_ratio(coalesce(text, '')) <=
        |        1.0 + (32.0 + octet_length(coalesce(text, '')) / 1024.0)
        |              / greatest(octet_length(coalesce(text, '')), 1)
        |    THEN 1 ELSE 0 END AS BIGINT) AS ratio_ok,
        |  CAST(CASE WHEN compress_ratio(coalesce(text, '') || coalesce(text, ''))
        |    <= compress_ratio(coalesce(text, '')) + 0.001
        |    THEN 1 ELSE 0 END AS BIGINT) AS dup_le
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // BPE subword tokenization, fixed merge table: the encoder's flat
    // bracket-replace algorithm is replayed bit-for-bit by nested replace()
    // in the oracle, so every token boundary is hash-gated
    "q_bpe_encode" -> dfq { s =>
      graft.ops.Bpe.encode(s.table("documents"),
          graft.ops.Bpe.BpeModel(bpeFixedMerges), "text", "doc_id")
        .select(col("doc_id"), array_join(col("tokens"), "|").as("toks"), col("n_tok"))
        .orderBy("doc_id")
    } _,
    // BPE TRAINING itself hash-gated: the engine's merge list (16 rounds,
    // weighted pair counts, deterministic tie-break) against an oracle that
    // re-trains in SQL through 16 chained merge CTEs
    "q_bpe_train" -> dfq { s =>
      import s.implicits._
      val m = graft.ops.Bpe.train(s.table("documents"), "text",
        numMerges = 16, minCount = 1L)
      m.merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
        .toDF("rank", "lhs", "rhs").orderBy("rank")
    } _,
    // BPE trained BY the engine (48 merges on the corpus itself), gated on
    // the lossless-reconstruction property: concatenating every document's
    // subword tokens must rebuild its exact word stream (the merge list
    // itself is spec-gated against hand-computed training runs)
    "q_bpe_roundtrip" -> dfq { s =>
      val docs = s.table("documents")
      val m = graft.ops.Bpe.train(docs, "text", numMerges = 48)
      graft.ops.Bpe.encode(docs, m, "text", "doc_id")
        .select(col("doc_id"), concat_ws("", col("tokens")).as("glued"))
        .orderBy("doc_id")
    } _,
    // capstone v4 — v3's CCNet recipe PLUS the engine-trained logistic
    // classifier gate (the fastText half of production curation): heuristic
    // gates, LM bits/token gate, exact dedup, PII scrub, and the learned
    // model's decision composed in one declarative query
    "q_curate_v4" -> dfq { s =>
      val docs = s.table("documents")
      graft.ops.LangModel.lmScore(docs, docs, "text", "doc_id", vocabSize = 16)
        .createOrReplaceTempView("lm_scores_v4")
      graft.ops.Classifier.qualityClassifier(docs, "text", "doc_id",
          classifierLabel, iters = 8)
        .createOrReplaceTempView("clf_scores_v4")
      docs.groupBy(expr("doc_fingerprint(text)"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        .localCheckpoint(true).createOrReplaceTempView("dedup_winners_v4")
      s.sql(
        """SELECT d.doc_id, t.st.lang AS lang_pred, t.st.n_tok AS n_tok,
          |       l.bits_per_tok, c.margin6, redact_pii(d.text) AS clean_text
          |FROM documents d
          |JOIN lm_scores_v4 l ON l.doc_id = d.doc_id
          |JOIN clf_scores_v4 c ON c.doc_id = d.doc_id
          |LATERAL VIEW text_stats(d.text) t AS st
          |WHERE t.st.score >= 0.3 AND t.st.n_tok >= 20 AND t.st.lang <> 'und'
          |  AND t.st.rep3 <= 0.5
          |  AND l.bits_per_tok <= 9
          |  AND c.pred
          |  AND d.doc_id IN (SELECT doc_id FROM dedup_winners_v4)
          |ORDER BY d.doc_id""".stripMargin)
    } _,
    // model-based quality classification, the fastText/CCNet recipe trained
    // BY the engine: 8 full-batch logistic GD steps (one five-long aggregate
    // per step), then map-only scoring with the weights as literals. The
    // rational fast sigmoid + floor-quantized integer gradients make the
    // whole float pipeline bit-replayable by the oracle's chained CTEs.
    "q_quality_classifier" -> dfq { s =>
      graft.ops.Classifier.qualityClassifier(s.table("documents"),
          "text", "doc_id", classifierLabel, iters = 8)
        .orderBy("doc_id")
    } _,
    // incremental dedup against a PERSISTED index (the daily-crawl shape):
    // even-id docs are indexed (fingerprints + minhash signatures, no text),
    // odd-id docs dedup against the index — exact via fingerprint probe,
    // near via band candidates verified by signature-agreement (the MinHash
    // Jaccard estimate; corpus text is never re-read)
    "q_dedup_increment" -> dfq { s =>
      val docs = s.table("documents")
      val path = dedupIdxPath(docs, "q")
      graft.ops.Dedup.saveDedupIndex(docs.where("doc_id % 2 = 0"), "text", "doc_id", path)
      graft.ops.Dedup.dedupAgainstIndex(docs.where("doc_id % 2 = 1"), "text", "doc_id", path)
        .orderBy("doc_id")
    } _,
    // the exact branch of the index probe, non-vacuous by construction: the
    // increment is 50 verbatim copies of indexed docs under fresh ids, so
    // every row must come back kind='exact' with dup_of = its source doc
    "q_dedup_increment_exact" -> dfq { s =>
      val docs = s.table("documents")
      val path = dedupIdxPath(docs, "x")
      graft.ops.Dedup.saveDedupIndex(docs, "text", "doc_id", path)
      val copies = docs.where("doc_id < 50")
        .selectExpr("doc_id + 1000000 AS doc_id", "text")
      graft.ops.Dedup.dedupAgainstIndex(copies, "text", "doc_id", path)
        .orderBy("doc_id")
    } _,
    // canonical normalization gate — run over a deliberately messy derived
    // string (case flips, tab/newline runs, edge whitespace) so every
    // normalization step observably fires on clean testdata
    "q_normalize" -> q(
      """SELECT doc_id,
        |  normalize_text(concat('  ', upper(text), chr(9), 'X ', chr(10), ' ')) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // tokenizer-aware packing: greedy first-fit sequence packing where the
    // budget is counted in BPE subword tokens (the real training-data unit),
    // not whitespace words — the n_tok column is a map-only projection, so
    // the packing shuffle is the plan's only exchange
    "q_pack_bpe" -> dfq { s =>
      val docs = s.table("documents")
      val withTok = docs.select(col("source"), col("doc_id"),
        graft.ops.Bpe.nTokCol(docs, graft.ops.Bpe.BpeModel(bpeFixedMerges), "text").as("n_tok"))
      graft.ops.Curation.packSequences(withTok, "source", "doc_id", "n_tok", budget = 1024)
        .orderBy("source", "doc_id")
    } _,

    // capstone: corpus curation — language/quality/length gates + exact dedup
    // in ONE declarative pass. text_stats is a one-row generator, so the
    // three metrics are computed once per document (shared tokenization) and
    // the WHERE gates filter on its output instead of re-invoking scalars.
    "q_curate_corpus" -> q(
      """SELECT doc_id, t.st.lang AS lang_pred, t.st.score AS score, t.st.n_tok AS n_tok
        |FROM documents LATERAL VIEW text_stats(text) t AS st
        |WHERE t.st.score >= 0.3
        |  AND t.st.n_tok >= 20
        |  AND t.st.lang <> 'und'
        |  AND doc_id IN (SELECT min(doc_id) FROM documents GROUP BY doc_fingerprint(text))
        |ORDER BY doc_id""".stripMargin) _,

    // capstone v2 — the COMPLETE curation pipeline in one declarative query:
    // language/quality/length gates, repetition (boilerplate) gate, exact
    // dedup, and PII-scrubbed output text. One text_stats eval per doc.
    "q_curate_v2" -> q(
      """SELECT doc_id, t.st.lang AS lang_pred,
        |       CAST(ROUND(t.st.score * 10000) AS BIGINT) AS score4,
        |       t.st.n_tok AS n_tok,
        |       CAST(ROUND(t.st.rep3 * 10000) AS BIGINT) AS rep4,
        |       redact_pii(text) AS clean_text
        |FROM documents LATERAL VIEW text_stats(text) t AS st
        |WHERE t.st.score >= 0.3
        |  AND t.st.n_tok >= 20
        |  AND t.st.lang <> 'und'
        |  AND t.st.rep3 <= 0.5
        |  AND doc_id IN (SELECT min(doc_id) FROM documents GROUP BY doc_fingerprint(text))
        |ORDER BY doc_id""".stripMargin) _,

    // ---- dedup -------------------------------------------------------------
    "q_dedup_exact" -> dfq { s =>
      graft.ops.Dedup.exactDedup(s.table("documents"), "text", "doc_id")
        .select("doc_id", "n_chars").orderBy("doc_id")
    } _,
    "q_minhash_sig" -> q(
      """SELECT doc_id, array_join(transform(minhash_sig(text, 8), x -> CAST(x AS STRING)), ',') AS sig
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    "q_minhash_pairs" -> dfq { s =>
      graft.ops.Dedup.minhashPairs(s.table("documents"), "text", "doc_id",
          k = 16, bands = 4, threshold = 0.3)
        .selectExpr("id_a", "id_b", "CAST(ROUND(jaccard * 10000) AS BIGINT) AS j4")
        .orderBy("id_a", "id_b")
    } _,
    // split-leakage audit: near-dup pairs (the same minhash/LSH battery as
    // q_minhash_pairs) whose two documents land in DIFFERENT buckets of the
    // deterministic 8/1/1 train/val/test split (q_split_bucket's convention)
    // — eval contamination via near-duplicates, the QA gate every split
    // needs before training. Pure composition of two gated operators;
    // delta-sized output (leaking pairs only). The split map is id-sized
    // and joins on the pair ids (broadcast under AQE when it fits).
    "q_split_leakage" -> dfq { s =>
      val docs = s.table("documents")
      val pairs = graft.ops.Dedup.minhashPairs(docs, "text", "doc_id",
          k = 16, bands = 4, threshold = 0.3)
      val sp = docs.selectExpr("doc_id",
        """CASE WHEN split_bucket(doc_id, 'v1', 10) < 8 THEN 'train'
          |     WHEN split_bucket(doc_id, 'v1', 10) = 8 THEN 'val'
          |     ELSE 'test' END AS split""".stripMargin)
      pairs
        .join(sp.selectExpr("doc_id AS id_a", "split AS split_a"), "id_a")
        .join(sp.selectExpr("doc_id AS id_b", "split AS split_b"), "id_b")
        .where(col("split_a") =!= col("split_b"))
        .selectExpr("id_a", "id_b", "split_a", "split_b",
          "CAST(ROUND(jaccard * 10000) AS BIGINT) AS j4")
        .orderBy("id_a", "id_b")
    } _,
    // full fuzzy-dedup pipeline: LSH pairs -> connected components -> keep min
    "q_near_dedup" -> dfq { s =>
      graft.ops.Dedup.nearDedupCorpus(s.table("documents"), "text", "doc_id",
          k = 16, bands = 4, threshold = 0.3)
        .select("doc_id", "n_chars").orderBy("doc_id")
    } _,
    "q_simhash" -> q(
      """SELECT doc_id, simhash(text) AS sig
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // blocked simhash near-dup pairs (pigeonhole quarters + Hamming verify)
    "q_simhash_pairs" -> dfq { s =>
      graft.ops.Dedup.simhashPairs(s.table("documents"), "text", "doc_id", maxDist = 3)
        .orderBy("id_a", "id_b")
    } _,
    "q_hamming" -> q(
      """SELECT a.doc_id AS id_a, hamming64(simhash(a.text), simhash(b.text)) AS d
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin) _,
    "q_ngram_jaccard" -> q(
      """SELECT a.doc_id AS id_a, CAST(ROUND(ngram_jaccard(a.text, b.text, 2) * 10000) AS BIGINT) AS j4
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin) _,

    // ---- similarity search -------------------------------------------------
    "q_cosine" -> q(
      """SELECT a.vec_id AS id_a, CAST(ROUND(cosine_sim(a.embedding, b.embedding) * 10000) AS BIGINT) AS c4
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY id_a""".stripMargin) _,
    "q_ann_topk" -> dfq { s =>
      val queries = s.table("embeddings").where("vec_id < 5")
        .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
      graft.ops.Similarity.bruteForceTopK(s.table("embeddings"), queries, 10)
        .selectExpr("q_id", "vec_id", "rank", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("q_id", "rank")
    } _,
    // int8-quantized ANN: the corpus is scalar-quantized (1 byte/dim + one
    // float scale — a quarter of the scan bytes at 100 TB) and scored by
    // dequantized cosine; the oracle mirrors the quantization bit-exactly.
    "q_quantized_topk" -> dfq { s =>
      val queries = s.table("embeddings").where("vec_id < 5")
        .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
      val qz = graft.ops.Similarity.quantizeInt8(s.table("embeddings"))
        .select("vec_id", "codes", "q_scale")
      graft.ops.Similarity.quantizedTopK(qz, queries, 10)
        .selectExpr("q_id", "vec_id", "rank", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("q_id", "rank")
    } _,
    // IVF ANN. Full probe (nprobe = nCells) makes the output exactly the
    // brute-force top-k, so the driver gate verifies the whole IVF pipeline
    // (distributed centroids, assignment, probe join, rerank) against a SQL
    // oracle; recall at nprobe < nCells is asserted in SimilaritySpec.
    "q_ivf_topk" -> dfq { s =>
      val queries = s.table("embeddings").where("vec_id < 5")
        .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
      graft.ops.Similarity.ivfTopK(s.table("embeddings"), queries, 10, nCells = 16, nprobe = 16)
        .selectExpr("q_id", "vec_id", "rank", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("q_id", "rank")
    } _,
    // Persisted IVF index: save (centroids + corpus partitionBy(cell)), then
    // search the SAVED index at full probe — exercises the on-disk layout and
    // the literal-partition-filter pruned read; full probe ≡ brute force, so
    // the same exact SQL oracle gates it.
    "q_ivf_saved" -> dfq { s =>
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_saved_q"
      graft.ops.Similarity.ivfSave(s.table("embeddings"), path, nCells = 16)
      val queries = s.table("embeddings").where("vec_id < 5")
        .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
      graft.ops.Similarity.ivfSearchSaved(s, path, queries, 10, nprobe = 16)
        .selectExpr("q_id", "vec_id", "rank", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("q_id", "rank")
    } _,
    // Index MAINTENANCE: build on half the corpus, ivfAppend the other half
    // into the saved layout — searching all cells must see both halves
    // exactly (same brute-force oracle as q_ivf_saved)
    // PQ-compressed ANN: 8 sub-spaces x 16-entry sampled codebooks — the
    // corpus representation is 8 code BYTES per vector (16x less scan I/O
    // than float32); scoring is cosine against the codebook reconstruction,
    // every double re-derived exactly by the SQL oracle (codebook sampling,
    // argmin assignment, flat-order accumulation)
    "q_pq_topk" -> dfq { s =>
      val emb = s.table("embeddings")
      val cb = graft.ops.Similarity.pqCodebook(emb, m = 8, nCodes = 16)
      val enc = graft.ops.Similarity.pqEncode(emb, cb)
      val queries = emb.where("vec_id < 5")
        .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
      graft.ops.Similarity.pqTopK(enc, cb, queries, 10)
        .selectExpr("q_id", "vec_id", "rank", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("q_id", "rank")
    } _,
    // PQ shortlist + exact rerank (the refine topology): compressed scan
    // cuts to 30 candidates per query, stored float vectors rescore only
    // those — real recall@k from an 8-byte/vector corpus scan
    "q_pq_rerank" -> dfq { s =>
      val emb = s.table("embeddings").select("vec_id", "embedding")
      val cb = graft.ops.Similarity.pqCodebook(emb, m = 8, nCodes = 16)
      val enc = graft.ops.Similarity.pqEncode(emb, cb)
      val queries = emb.where("vec_id < 5")
        .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
      graft.ops.Similarity.pqTopKRerank(emb, enc, cb, queries, 10, shortlist = 30)
        .selectExpr("q_id", "vec_id", "rank", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("q_id", "rank")
    } _,
    // IVF × PQ composition at FULL probe: cell pruning removes no
    // candidates, so the PQ oracle gates the whole pipeline (Lloyd cells,
    // code assignment, probed join, compressed scoring) bit-exactly;
    // nprobe < nCells is the at-scale recall/cost knob
    "q_ivfpq_topk" -> dfq { s =>
      val emb = s.table("embeddings")
      val cb = graft.ops.Similarity.pqCodebook(emb, m = 8, nCodes = 16)
      val queries = emb.where("vec_id < 5")
        .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
      graft.ops.Similarity.ivfPqTopK(emb, queries, 10, cb, nCells = 16, nprobe = 16)
        .selectExpr("q_id", "vec_id", "rank", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("q_id", "rank")
    } _,
    "q_ivf_append" -> dfq { s =>
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_append_q"
      val emb = s.table("embeddings")
      graft.ops.Similarity.ivfSave(emb.where("vec_id % 2 = 0"), path, nCells = 16)
      graft.ops.Similarity.ivfAppend(s, path, emb.where("vec_id % 2 = 1"))
      val queries = emb.where("vec_id < 5")
        .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
      graft.ops.Similarity.ivfSearchSaved(s, path, queries, 10, nprobe = 16)
        .selectExpr("q_id", "vec_id", "rank", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("q_id", "rank")
    } _,
    "q_lsh_bucket" -> q(
      """SELECT vec_id, hyperplane_bucket(embedding, 6) AS bucket
        |FROM embeddings ORDER BY vec_id""".stripMargin) _,
    // LSH-bucketed ANN end-to-end: queries probe only their own hyperplane
    // bucket, exact cosine rerank inside it
    "q_lsh_topk" -> dfq { s =>
      val queries = s.table("embeddings").where("vec_id < 5")
        .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
      graft.ops.Similarity.lshTopK(s.table("embeddings"), queries, 5, bits = 6)
        .selectExpr("q_id", "vec_id", "rank", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("q_id", "rank")
    } _,
    // BIG-BIG ANN join: every 10th vector retrieves its top-3 neighbors from
    // the full corpus — neither side broadcast, Hamming-1 multi-probe, and
    // bounded per-key heaps before the exchange; the oracle replays the
    // operator's defined semantics (same buckets, same probe set, same
    // candidates, same rerank) exactly
    "q_ann_join" -> dfq { s =>
      val left = s.table("embeddings").where("vec_id % 10 = 0")
        .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
      graft.ops.Similarity.lshJoinTopK(left, s.table("embeddings").select("vec_id", "embedding"),
          3, bits = 6)
        .selectExpr("q_id", "vec_id", "rank", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("q_id", "rank")
    } _,
    // MULTI-TABLE big-big ANN join: 3 independent hyperplane sets, union of
    // candidates, scored-triple dedup before the bounded heaps — the recall
    // knob that keeps per-bucket occupancy constant; the oracle replays the
    // table-seeded buckets, the (table, bucket) equi-join, the dedup, and
    // the rerank exactly
    "q_ann_multitable" -> dfq { s =>
      val left = s.table("embeddings").where("vec_id % 10 = 0")
        .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
      graft.ops.Similarity.lshJoinTopKMulti(left,
          s.table("embeddings").select("vec_id", "embedding"), 3, bits = 6, tables = 3)
        .selectExpr("q_id", "vec_id", "rank", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("q_id", "rank")
    } _,

    // embedding-cosine near-dup: LSH bucket join + exact threshold verify.
    // The synthetic embeddings are near-random (max raw pairwise sim ~0.51),
    // so the fixture plants near-duplicates: vec_id < 50 gets a copy at
    // vec_id+100000 with one coordinate nudged (+0.25 on dim 0, float-exact
    // on both engines) — sim ≈ 0.999, discoverable only by the LSH+verify
    // pipeline, and the 0.9 threshold separates planted pairs from noise.
    // embedding-level decontamination: the 50 planted perturbed copies are
    // caught as semantically contaminated against the 50-vector benchmark
    // (paraphrase-robust sibling of q_decontaminate); benchmark broadcast,
    // corpus map-only
    "q_semantic_decontaminate" -> dfq { s =>
      val base = s.table("embeddings")
      val bench = base.where("vec_id < 50").select("vec_id", "embedding")
      val corpus = base.where("vec_id >= 50").select("vec_id", "embedding")
        .unionByName(base.where("vec_id < 50")
          .selectExpr("vec_id + 100000 AS vec_id",
            "transform(embedding, (x, i) -> IF(i = 0, CAST(x + CAST(0.25 AS DOUBLE) AS FLOAT), x)) AS embedding"))
      graft.ops.Curation.semanticDecontaminate(corpus, bench, "vec_id", "embedding", tau = 0.9)
        .orderBy("vec_id")
    } _,
    // SemDeDup-shape semantic dedup: greedy keep-smallest-id within LSH
    // cells; the 50 planted perturbed copies resolve to their originals
    "q_semantic_dedup" -> dfq { s =>
      val base = s.table("embeddings")
      val planted = base.where("vec_id < 50")
        .selectExpr("vec_id + 100000 AS vec_id",
          "transform(embedding, (x, i) -> IF(i = 0, CAST(x + CAST(0.25 AS DOUBLE) AS FLOAT), x)) AS embedding")
      val corpus = base.select("vec_id", "embedding").unionByName(planted)
      graft.ops.Dedup.semanticDedup(corpus, "vec_id", "embedding", nPlanes = 8, tau = 0.9)
        .orderBy("vec_id")
    } _,
    "q_embed_neardup" -> dfq { s =>
      val base = s.table("embeddings")
      val planted = base.where("vec_id < 50")
        .selectExpr("vec_id + 100000 AS vec_id",
          "transform(embedding, (x, i) -> IF(i = 0, CAST(x + CAST(0.25 AS DOUBLE) AS FLOAT), x)) AS embedding")
      val corpus = base.select("vec_id", "embedding").unionByName(planted)
      val e = corpus
        .selectExpr("vec_id", "embedding", "hyperplane_bucket(embedding, 8) AS bucket")
      val l = e.selectExpr("bucket", "vec_id AS id_a", "embedding AS ea")
      val r = e.selectExpr("bucket", "vec_id AS id_b", "embedding AS eb")
      l.join(r, "bucket").where("id_a < id_b")
        .selectExpr("id_a", "id_b", "cosine_sim(ea, eb) AS sim")
        .where("sim >= 0.9")
        .selectExpr("id_a", "id_b", "CAST(ROUND(sim * 10000) AS BIGINT) AS c4")
        .orderBy("id_a", "id_b")
    } _,

    // Arrow IPC source/sink round trip driven through the gate: write the
    // embeddings as .arrow stream files, read them back, verify values
    "q_arrow_roundtrip" -> dfq { s =>
      val dir = java.nio.file.Files.createTempDirectory("graft_arrow_rt").toString
      graft.sources.ArrowIO.write(s.table("embeddings").selectExpr("vec_id", "embedding"), dir)
      graft.sources.ArrowIO.read(s, dir)
        .selectExpr("vec_id", "CAST(ROUND(embedding[0] * 10000) AS BIGINT) AS e0")
        .orderBy("vec_id")
    } _,

    // ---- multimodal (REAL pure-JDK codecs: javax.imageio + javax.sound) ----
    // Fixture-through-the-engine gates: png_synth/wav_synth ENCODE real
    // payloads with planted dims/pixels/durations, the decode surface reads
    // them back, and DuckDB recomputes the planted values arithmetically —
    // a broken encoder, header parser, pixel decode, or resampler hash-fails
    // (same pattern as q_compress).
    "q_image_meta" -> q(
      """SELECT doc_id, m.width, m.height, m.format
        |FROM (SELECT doc_id, image_meta(png_synth(
        |        CAST(8 + doc_id % 97 AS INT),
        |        CAST(8 + (doc_id * 7) % 89 AS INT),
        |        CAST((doc_id % 251) * 65536 AS INT))) AS m
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) _,
    // real bilinear resize of real bytes: decoded output dims must equal the
    // aspect arithmetic, and a solid-color image must stay EXACTLY solid
    // through fixed-point bilinear (weights sum to 1), so the red-channel
    // sum is r·rw·rh — all three replayed arithmetically by the oracle
    "q_resize" -> q(
      """SELECT doc_id, m.width AS rw, m.height AS rh, p.sum_r AS rsum_r
        |FROM (SELECT doc_id, image_meta(rz) AS m, pixel_stats(rz) AS p
        |      FROM (SELECT doc_id, image_resize(png_synth(
        |              CAST(8 + doc_id % 97 AS INT),
        |              CAST(8 + (doc_id * 7) % 89 AS INT),
        |              CAST((doc_id % 251) * 65536 AS INT)), 64) AS rz
        |            FROM documents))
        |ORDER BY doc_id""".stripMargin) _,
    // full pixel decode through the BATCHED kernel tier (column-at-a-time):
    // two-tone planted image, per-channel integer sums + red extrema exact
    "q_pixel_stats" -> dfq { s =>
      val df = s.table("documents").selectExpr("doc_id",
        """png_synth_2tone(
          |  CAST(8 + doc_id % 97 AS INT),
          |  CAST(8 + (doc_id * 7) % 89 AS INT),
          |  CAST((doc_id % 251) * 65536 + ((doc_id * 3) % 241) * 256 + ((doc_id * 7) % 239) AS INT),
          |  CAST((doc_id % 127) * 65536 + ((doc_id * 5) % 131) * 256 + ((doc_id * 11) % 137) AS INT)) AS payload""".stripMargin)
      graft.ops.Multimodal.pixelStatsBatch(df, "payload")
        .selectExpr("doc_id", "stats.sum_r AS sum_r", "stats.sum_g AS sum_g",
          "stats.sum_b AS sum_b", "stats.min_r AS min_r", "stats.max_r AS max_r")
        .orderBy("doc_id")
    } _,
    // batch feature extraction: the mapPartitions shape a vectorized media
    // UDF plugs into — per-row body is the real header-only decode
    "q_extract_features" -> dfq { s =>
      val df = s.table("documents").selectExpr("doc_id",
        """png_synth(CAST(8 + doc_id % 97 AS INT),
          |          CAST(8 + (doc_id * 7) % 89 AS INT),
          |          CAST((doc_id % 251) * 65536 AS INT)) AS payload""".stripMargin)
      graft.ops.Multimodal.extractImageFeatures(df, "payload")
        .select("doc_id", "width", "height", "format")
        .orderBy("doc_id")
    } _,
    // real WAV container roundtrip: wav_synth writes (1 + doc_id % 53) s of
    // 16-bit mono PCM at 1 kHz, media_duration_ms reads frames/frameRate
    // back from the RIFF header, frame_sample expands timestamps lazily
    "q_frame_sample" -> q(
      """SELECT doc_id, t.value AS frame_ms
        |FROM (SELECT doc_id, media_duration_ms(
        |        wav_synth(CAST(1000 * (1 + doc_id % 53) AS INT), 1000)) AS dur
        |      FROM documents)
        |LATERAL VIEW frame_sample(dur, 7000) t AS value
        |ORDER BY doc_id, frame_ms""".stripMargin) _,
    // full SAMPLE decode of the real WAV payload: frame count, peak |v|,
    // Σv² over the planted deterministic ramp — the oracle replays the
    // ramp arithmetic over generate_series, so a broken PCM decode
    // (endianness, frame stride, sign) hash-fails
    "q_audio_stats" -> q(
      """SELECT doc_id, st.n, st.peak, st.sum_sq
        |FROM (SELECT doc_id, audio_stats(
        |        wav_synth(CAST(1000 * (1 + doc_id % 53) AS INT), 1000)) AS st
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) _,
    // every crawl-real PCM depth through the same decode: doc_id % 3 picks
    // u8 / s16 / s24, each ramp with a closed form the oracle replays
    // sample-by-sample (u8 decodes CENTERED — the WAV convention — so a
    // sign-convention slip hash-fails; s24 exercises the 3-byte stride and
    // bit-23 sign extension)
    "q_audio_depths" -> q(
      """SELECT doc_id, st.n, st.peak, st.sum_sq
        |FROM (SELECT doc_id, audio_stats(wav_synth_bits(
        |        CAST(500 * (1 + doc_id % 23) AS INT), 1000,
        |        CAST(8 + 8 * (doc_id % 3) AS INT))) AS st
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) _,

    // ---- relational layer (Spark-provided operators, SURVEY §2.3) ----------
    // decimal sums emitted as integer cents: Spark and DuckDB render/hash
    // DECIMAL(38,2) differently in the driver's comparison, BIGINT is exact.
    "q1_pricing" -> q(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_cents,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_cents,
        |       sum(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS rev_cents,
        |       count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) _,
    "q3_join" -> q(
      """SELECT o.o_orderkey, c.c_mktsegment,
        |       sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS rev_cents
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderkey, c.c_mktsegment
        |ORDER BY o.o_orderkey""".stripMargin) _,
    // TPC-H Q5-style: five-way join through the dimension chain
    "q5_local_supplier" -> q(
      """SELECT n.n_name,
        |       sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS rev_cents
        |FROM region r
        |JOIN nation n ON n.n_regionkey = r.r_regionkey
        |JOIN supplier s ON s.s_nationkey = n.n_nationkey
        |JOIN lineitem l ON l.l_suppkey = s.s_suppkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey AND c.c_nationkey = s.s_nationkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin) _,
    // TPC-H Q2-style: min-price source per part within a region — correlated
    // scalar subquery repeating the dimension chain (optimizer coverage:
    // Catalyst decorrelates to an aggregate + join)
    "q2_min_cost" -> q(
      """SELECT p.p_partkey, l.l_suppkey,
        |       CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS price_cents
        |FROM part p
        |JOIN lineitem l ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'EUROPE' AND p.p_partkey % 10 = 0
        |  AND l.l_extendedprice = (
        |    SELECT min(l2.l_extendedprice) FROM lineitem l2
        |    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        |    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        |    WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY p.p_partkey, l.l_suppkey""".stripMargin) _,
    // TPC-H Q7-style: bilateral volume between two nation sets by ship year
    "q7_volume" -> q(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l.l_shipdate) AS l_year,
        |       sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS rev_cents
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |WHERE n1.n_name IN ('NATION_3', 'NATION_7') AND n2.n_name IN ('NATION_3', 'NATION_7')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) _,
    "q_window_running" -> q(
      """SELECT o_custkey, o_orderkey,
        |       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |       sum(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cents
        |FROM orders ORDER BY o_custkey, rn""".stripMargin) _,
    // user-defined aggregate as a WINDOW function: the graft-registered
    // sum_udaf runs over a running frame — the aggregate tier composes with
    // Spark's window exec, not just groupBy. The frame ordering includes
    // enough columns to be TOTAL (duplicate line numbers exist), otherwise
    // the running sum is tie-order nondeterministic
    "q_udaf_window" -> q(
      """SELECT l_orderkey, l_linenumber,
        |       sum_udaf(CAST(l_quantity AS INT))
        |         OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_q
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice""".stripMargin) _,
    // full analytic-window battery over one totally-ordered frame: offsets
    // (lag/lead), ranks (rank/dense_rank/ntile), and a distribution
    // (percent_rank, fixed-point) — ordering includes the key so every
    // function is deterministic
    "q_window_funcs" -> q(
      """SELECT o_custkey, o_orderkey,
        |  lag(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS prev_cents,
        |  lead(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS next_cents,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile,
        |  CAST(ROUND(percent_rank() OVER w * 10000) AS BIGINT) AS pr4
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) _,
    // explicit GROUPING SETS — the arbitrary-set form CUBE/ROLLUP are sugar
    // for: flag×status detail, per-status margin, and the grand total, but
    // NOT the per-flag margin (proving the set list is honored literally)
    "q_grouping_sets" -> q(
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
        |       CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS s,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY rf, ls, gid""".stripMargin) _,
    // ROLLUP margins — the hierarchy sibling of CUBE (drill-down totals
    // without the cross-margins); same grouping-id discipline
    "q_rollup" -> q(
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
        |       CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS s,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls, gid""".stripMargin) _,
    // CUBE margins with grouping indicators — full multidimensional
    // aggregation surface (GROUP BY CUBE covers ROLLUP/GROUPING SETS shapes)
    "q_cube" -> q(
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
        |       CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS s,
        |       count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls, gid""".stripMargin) _,
    // Q17-style correlated scalar subquery, integer-exact threshold:
    // qty < 0.2 * avg(qty per part)  ⟺  qty_cents * cnt * 5 < sum_cents
    "q17_small_quantity" -> q(
      """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#13'
        |  AND CAST(ROUND(l.l_quantity * 100) AS BIGINT)
        |      * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey) * 5
        |    < (SELECT sum(CAST(ROUND(l3.l_quantity * 100) AS BIGINT))
        |       FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin) _,
    // Q13-style: LEFT OUTER join with an extra join-side predicate, grouped
    // twice (per-customer counts → distribution). Exercises outer-join
    // reordering, partial aggregation below and above the shuffle, and the
    // null-preserving count(o_orderkey) vs count(*) distinction.
    "q13_custdist" -> q(
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |      FROM customer c LEFT OUTER JOIN orders o
        |        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |      GROUP BY c.c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) _,
    // Q20-style: nested correlated subqueries — an EXISTS whose inner query
    // itself contains a correlated scalar aggregate, plus a semi-join IN.
    // Stresses subquery decorrelation into aggregate + semi joins.
    "q20_nested_exists" -> q(
      """SELECT s.s_suppkey, s.s_name
        |FROM supplier s
        |WHERE s.s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name LIKE 'NATION_1%')
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_suppkey = s.s_suppkey
        |      AND CAST(ROUND(l.l_quantity * 100) AS BIGINT)
        |          * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey) * 5
        |        > (SELECT sum(CAST(ROUND(l3.l_quantity * 100) AS BIGINT)) * 4
        |           FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey))
        |ORDER BY s.s_suppkey""".stripMargin) _,
    // Q4-style: EXISTS semi-join with a correlated date predicate (adapted:
    // this dataset has no commit/receipt dates, so "late" = shipped > 60
    // days after the order date)
    "q4_order_priority" -> q(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) _,
    // Q6-style: single-scan filter + aggregate; the plan should be a scan
    // with pushed predicates and a partial/final agg, no shuffle of rows
    "q6_revenue" -> q(
      """SELECT CAST(sum(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.08 AND l_quantity < 24""".stripMargin) _,
    // Q10-style: returned-item revenue per customer (4-way join + top-k)
    "q10_returned" -> q(
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |       sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS rev_cents
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, n.n_name
        |ORDER BY rev_cents DESC, c_custkey LIMIT 20""".stripMargin) _,
    // Q14-style: conditional aggregation over a fact-dim join
    "q14_promo" -> q(
      """SELECT sum(CASE WHEN p.p_type LIKE 'PROMO%'
        |                THEN CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)
        |                ELSE 0 END) AS promo_cents,
        |       sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS total_cents
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00'""".stripMargin) _,
    // Q8-style: a nation's share of regional volume per order year. Share is
    // reported as exact (numerator, denominator) cents rather than a float
    // ratio so the oracle compare stays bit-exact.
    "q8_market_share" -> q(
      """SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |       sum(CASE WHEN n1.n_name = 'NATION_5'
        |                THEN CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)
        |                ELSE 0 END) AS nation_cents,
        |       sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS region_cents
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = n2.n_regionkey
        |WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
        |GROUP BY year(o.o_orderdate) ORDER BY o_year""".stripMargin) _,
    // Q9-style: per-nation per-year profit. No partsupp table in this
    // dataset, so supply cost is proxied by p_retailprice; all terms are
    // exact integers in 1e-4 currency units.
    "q9_profit" -> q(
      """SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |       sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 10000) AS BIGINT)
        |           - CAST(ROUND(p.p_retailprice * 100) AS BIGINT)
        |             * CAST(ROUND(l.l_quantity * 100) AS BIGINT)) AS profit_e4
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY n.n_name, year(o.o_orderdate)
        |ORDER BY nation, o_year DESC""".stripMargin) _,
    // Q11-style: parts whose value (revenue through one nation's suppliers)
    // exceeds a fixed share of a two-nation supplier set's total — HAVING over an
    // uncorrelated scalar aggregate subquery, integer-exact (share > 1/800).
    "q11_important_value" -> q(
      """SELECT l.l_partkey,
        |       sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS value_cents
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE n.n_name IN ('NATION_15', 'NATION_19')
        |GROUP BY l.l_partkey
        |HAVING sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) * 800
        |     > (SELECT sum(CAST(ROUND(l2.l_extendedprice * (1.0 - l2.l_discount) * 100) AS BIGINT))
        |        FROM lineitem l2
        |        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        |        WHERE n2.n_name IN ('NATION_15', 'NATION_19'))
        |ORDER BY value_cents DESC, l_partkey""".stripMargin) _,
    // Q12-style: priority mix by shipping speed. No l_shipmode column, so
    // the mode bucket is derived from ship latency vs the order date.
    "q12_ship_priority" -> q(
      """SELECT CASE WHEN l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
        |            THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
        |       sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
        |       sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low_line_count
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY ship_bucket""".stripMargin) _,
    // Q15-style: top supplier by half-year revenue — CTE reused twice, with
    // the max taken via an uncorrelated scalar subquery over the same CTE.
    "q15_top_supplier" -> q(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         sum(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS total_rev_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1995-07-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_rev_cents
        |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        |WHERE r.total_rev_cents = (SELECT max(total_rev_cents) FROM revenue)
        |ORDER BY s.s_suppkey""".stripMargin) _,
    // Q16-style: distinct supplier counts per (brand, type, size) with an
    // anti-membership NOT IN subquery. partsupp is proxied by lineitem.
    "q16_supplier_cnt" -> q(
      """SELECT p.p_brand, p.p_type, p.p_size,
        |       count(DISTINCT l.l_suppkey) AS supplier_cnt
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#13' AND p.p_type NOT LIKE 'PROMO%'
        |  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_nationkey IN (0, 1, 2))
        |GROUP BY p.p_brand, p.p_type, p.p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) _,
    // Q18-style: large-quantity orders — IN over a grouped HAVING subquery,
    // then re-aggregated with the customer attached.
    "q18_large_orders" -> q(
      """SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |       CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_cents,
        |       sum(CAST(ROUND(l.l_quantity * 100) AS BIGINT)) AS sum_qty_cents
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 25000)
        |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
        |ORDER BY total_cents DESC, o_orderkey LIMIT 100""".stripMargin) _,
    // Q19-style: disjunction of brand/size/quantity bands — exercises OR'd
    // mixed join+filter predicates that cannot be pushed as one conjunct.
    "q19_discounted" -> q(
      """SELECT sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS revenue_cents
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity >= 1 AND l.l_quantity <= 20)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
        |       AND l.l_quantity >= 10 AND l.l_quantity <= 30)
        |   OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 1 AND 35
        |       AND l.l_quantity >= 20 AND l.l_quantity <= 40)""".stripMargin) _,
    // Q21-style: suppliers who were the ONLY late shipper in a
    // multi-supplier finished order. No commit/receipt dates, so "late" =
    // shipped >60 days after order date. EXISTS + NOT EXISTS decorrelation
    // with a non-equi correlated predicate.
    "q21_waiting" -> q(
      """SELECT s.s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin) _,
    // Q22-style: wealthy customers with no recent orders. Every customer
    // here has SOME order, so the anti-join is date-bounded; the "above
    // average balance" cut is integer-exact (bal*count > sum).
    "q22_idle_wealthy" -> q(
      """SELECT c.c_nationkey AS cntrycode, count(*) AS numcust,
        |       sum(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS totacctbal_cents
        |FROM customer c
        |WHERE c.c_nationkey IN (1, 3, 5, 7, 9)
        |  AND CAST(ROUND(c.c_acctbal * 100) AS BIGINT)
        |      * (SELECT count(*) FROM customer c2
        |         WHERE c2.c_acctbal > 0 AND c2.c_nationkey IN (1, 3, 5, 7, 9))
        |    > (SELECT sum(CAST(ROUND(c3.c_acctbal * 100) AS BIGINT)) FROM customer c3
        |       WHERE c3.c_acctbal > 0 AND c3.c_nationkey IN (1, 3, 5, 7, 9))
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY c.c_nationkey ORDER BY cntrycode""".stripMargin) _,
    "q_topk" -> q(
      """SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) _,
    "q_setops" -> q(
      """SELECT 'both' AS tag, k FROM
        |  (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey AS k FROM orders)
        |UNION ALL
        |SELECT 'cust_only' AS tag, k FROM
        |  (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey AS k FROM orders)
        |ORDER BY tag, k""".stripMargin) _,
    "q_json_extract" -> q(
      """SELECT event_id, event_type, CAST(NULLIF(regexp_extract(props, '"k": *([0-9]+)', 1), '') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin) _,
    "q_tumbling_window" -> q(
      """SELECT unix_millis(w.start) AS ws, event_type, count(*) AS cnt,
        |       sum(CAST(ROUND(value * 100) AS BIGINT)) AS val_cents
        |FROM (SELECT window(timestamp_micros(ts DIV 1000), '1 hour') AS w, event_type, value
        |      FROM events)
        |GROUP BY w, event_type ORDER BY ws, event_type""".stripMargin) _,
    // custom operator tier (c): TopKPerKey logical node + strategy + 2-phase exec
    "q_topk_per_key" -> dfq { s =>
      val o = s.table("orders").selectExpr("o_custkey", "o_orderkey",
        "CAST(ROUND(o_totalprice * 100) AS BIGINT) * 1000000 + o_orderkey AS ord")
      graft.plans.TopKPerKey.topK(o, Seq("o_custkey"), "ord", 3)
        .orderBy("o_custkey", "ord")
    } _,

    // sessionization: 30-minute-gap sessions per user (lag + running sum)
    "q_sessionize" -> q(
      """SELECT user_id, event_id,
        |       sum(new_sess) OVER (PARTITION BY user_id ORDER BY t_ms, event_id) AS session_id
        |FROM (
        |  SELECT user_id, event_id, t_ms,
        |         CASE WHEN lag(t_ms, 1) OVER (PARTITION BY user_id ORDER BY t_ms, event_id) IS NULL
        |                   OR t_ms - lag(t_ms, 1) OVER (PARTITION BY user_id ORDER BY t_ms, event_id) > 1800000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT user_id, event_id, ts DIV 1000000 AS t_ms FROM events))
        |ORDER BY user_id, event_id""".stripMargin) _,
    // sliding (overlapping) event-time windows
    "q_sliding_window" -> q(
      """SELECT unix_millis(w.start) AS ws, event_type, count(*) AS cnt,
        |       sum(CAST(ROUND(value * 100) AS BIGINT)) AS val_cents
        |FROM (SELECT window(timestamp_micros(ts DIV 1000), '1 hour', '30 minutes') AS w,
        |             event_type, value
        |      FROM events)
        |GROUP BY w, event_type ORDER BY ws, event_type""".stripMargin) _,
    // bucketed range join: events within 1 hour after a purchase by the same
    // user — interval bucketing turns the range predicate into an equi-join.
    // (Orders are 1995-2001 and events are 2024, so an orders-anchored window
    // can never match; purchase-anchored windows yield real matches at every SF.)
    "q_range_join" -> dfq { s =>
      val points = s.table("events")
        .selectExpr("event_id", "user_id", "ts DIV 1000000 AS t_ms")
      val intervals = s.table("events").where("event_type = 'purchase'")
        .selectExpr("event_id AS purchase_id", "user_id AS p_user",
          "ts DIV 1000000 AS lo", "ts DIV 1000000 + 3600000 AS hi")
      graft.plans.RangeJoin.bucketedRangeJoin(points, intervals,
          "user_id", "p_user", "t_ms", "lo", "hi", bucketWidth = 3600000L)
        .select("event_id", "purchase_id")
        .orderBy("event_id", "purchase_id")
    } _,
    // interval-OVERLAP join (interval × interval, not point-in-interval):
    // view attention windows × purchase ±5-min windows per user; both sides
    // bucket-exploded, each overlapping pair emitted exactly once in its
    // first shared bucket — never a per-key cartesian product
    "q_interval_join" -> dfq { s =>
      val views = s.table("events").where("event_type = 'view'")
        .selectExpr("event_id AS view_id", "user_id AS v_user",
          "ts DIV 1000000 AS v_lo", "ts DIV 1000000 + 7200000 AS v_hi")
      val buys = s.table("events").where("event_type = 'purchase'")
        .selectExpr("event_id AS purchase_id", "user_id AS p_user",
          "ts DIV 1000000 - 3600000 AS p_lo", "ts DIV 1000000 + 3600000 AS p_hi")
      graft.plans.RangeJoin.bucketedIntervalJoin(views, buys, "v_user", "p_user",
          "v_lo", "v_hi", "p_lo", "p_hi", bucketWidth = 3600000L)
        .select("view_id", "purchase_id").orderBy("view_id", "purchase_id")
    } _,
    "q_asof_join" -> dfq { s =>
      val e = s.table("events").selectExpr("event_id", "user_id", "ts DIV 1000000 AS t_ms")
      val o = s.table("orders").selectExpr("o_custkey",
        "unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS t_ms", "o_orderkey")
      graft.plans.AsofJoinNative.asof(e, o, "user_id", "o_custkey", "t_ms", "t_ms",
          "o_orderkey", Seq("o_orderkey"))
        .select("event_id", "user_id", "o_orderkey").orderBy("event_id")
    } _,
    // FORWARD as-of (earliest right at-or-after each left): the same
    // one-merge-pass native exec run over NEGATED timestamps — backward
    // "latest <=" under negation IS forward "earliest >=", so one exec
    // serves both directions (tiebreak column untouched)
    "q_asof_forward" -> dfq { s =>
      val e = s.table("events")
        .selectExpr("event_id", "user_id", "-(ts DIV 1000000) AS t_neg")
      val o = s.table("orders").selectExpr("o_custkey",
        "-unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS t_neg", "o_orderkey")
      graft.plans.AsofJoinNative.asof(e, o, "user_id", "o_custkey",
          "t_neg", "t_neg", "o_orderkey", Seq("o_orderkey"))
        .select("event_id", "user_id", "o_orderkey").orderBy("event_id")
    } _,
    // last-touch attribution capstone: each purchase joined AS-OF to the
    // user's most recent prior view/click (the one-merge-pass native asof
    // exec — no pair explosion), carrying the touch's channel from props
    "q_attribution" -> dfq { s =>
      val ev = s.table("events")
      val purchases = ev.where(col("event_type") === "purchase")
        .selectExpr("event_id", "user_id", "ts",
          "CAST(ROUND(value * 100) AS BIGINT) AS rev_cents")
      val touches = ev.where(col("event_type").isin("view", "click"))
        .selectExpr("user_id AS t_user", "ts AS t_ts", "event_id AS t_id",
          "event_type AS t_type",
          "CAST(NULLIF(regexp_extract(props, '\"k\": *([0-9]+)', 1), '') AS INT) % 5 AS channel")
      graft.plans.AsofJoinNative.asof(purchases, touches, "user_id", "t_user",
          "ts", "t_ts", "t_id", Seq("t_id", "t_type", "channel"))
        .select(col("event_id"), col("user_id"), col("rev_cents"),
          col("t_id").as("touch_id"), col("t_type").as("touch_type"),
          col("channel"))
        .orderBy("event_id")
    } _,
    // ---- mergeable sketches (corpus profiling at 100 TB) -------------------
    // HLL register file over a key column: the persistable/mergeable distinct
    // sketch artifact (one counted shuffle over <=2^p buckets, builtins only)
    "q_hll_registers" -> dfq { s =>
      graft.ops.Sketches.hllRegisters(s.table("lineitem"), col("l_partkey"), p = 9)
        .orderBy("bucket")
    } _,
    // register-file UNION (the daily-increment shape): merging the sketches
    // of two disjoint corpus halves must equal the whole-corpus register
    // file bit-for-bit — the oracle computes the whole directly, so HLL's
    // mergeability itself is hash-gated
    "q_hll_union" -> dfq { s =>
      val li = s.table("lineitem")
      val even = graft.ops.Sketches.hllRegisters(
        li.where(col("l_orderkey") % 2 === 0), col("l_partkey"), p = 9)
      val odd = graft.ops.Sketches.hllRegisters(
        li.where(col("l_orderkey") % 2 === 1), col("l_partkey"), p = 9)
      graft.ops.Sketches.hllUnion(even, odd).orderBy("bucket")
    } _,
    // HLL as a grouped AGGREGATE function (partial/final register max-merge);
    // the raw estimator is exact-integer (BigInt / HUGEINT on the oracle
    // side), so the estimate itself is hash-gated bit-for-bit
    "q_hll_distinct" -> q(
      """SELECT l_returnflag, hll_distinct(CAST(l_partkey AS STRING)) AS est
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) _,
    // count-min frequency estimates: one 4x1024 matrix per corpus pass (no
    // key ever shuffles), candidate words estimated driver-side
    "q_cms_estimate" -> dfq { s =>
      val toks = s.table("documents").select(
        explode(filter(split(lower(col("text")), "\\s+"), x => length(x) > 0)).as("t"))
      graft.ops.Sketches.cmsEstimates(s, toks, col("t"),
          Seq("the", "a", "spark", "scan", "dup", "query", "data", "zz_absent"),
          d = 4, w = 1024)
        .orderBy("key")
    } _,
    // Bloom-pruned probe: mBits deliberately tiny (64) so FALSE POSITIVES
    // actually occur and are gated — the oracle replays the same bit array,
    // proving bloom semantics rather than a plain semi-join. is_member marks
    // true members vs false positives.
    "q_bloom_probe" -> dfq { s =>
      val build = s.table("supplier").where(col("s_suppkey") % 7 === 0)
      val bits = graft.ops.Sketches.bloomBits(build, col("s_suppkey"), mBits = 64, k = 3)
      val probe = s.table("lineitem").select(col("l_suppkey")).distinct()
      val passed = graft.ops.Sketches.bloomProbe(probe, col("l_suppkey"), bits, 64, 3)
      passed.join(build.select(col("s_suppkey").as("mk")),
          passed("l_suppkey") === col("mk"), "left")
        .select(col("l_suppkey"), col("mk").isNotNull.as("is_member"))
        .orderBy("l_suppkey")
    } _,
    // capstone v5: the seventh-pass battery composed — full Gopher rule
    // gate (corpus stop list) AND LSH near-dedup survivorship in one query
    "q_curate_v5" -> dfq { s =>
      val docs = s.table("documents")
      val rules = graft.ops.Curation.gopherRules(docs, "text", "doc_id",
        minWords = 40, stopList = Seq("the", "a", "of", "and"))
      val survivors = graft.ops.Dedup.nearDedupCorpus(docs, "text", "doc_id",
        k = 16, bands = 4, threshold = 0.3).select(col("doc_id").as("sid"))
      rules.where(col("pass"))
        .join(survivors, col("doc_id") === col("sid"))
        .select("doc_id", "n_words").orderBy("doc_id")
    } _,
    // join-cardinality profiling without a join: registers for each key
    // column (one scan each), overlap by inclusion-exclusion on the
    // exact-integer estimator — est_intersect ≈ |distinct lineitem partkeys
    // ∩ part partkeys| (≈ |part|, every part is referenced at these SFs)
    "q_hll_intersect" -> dfq { s =>
      import s.implicits._
      val a = graft.ops.Sketches.collectRegisters(
        graft.ops.Sketches.hllRegisters(s.table("lineitem"), col("l_partkey"), 9), 9)
      val b = graft.ops.Sketches.collectRegisters(
        graft.ops.Sketches.hllRegisters(s.table("part"), col("p_partkey"), 9), 9)
      val (ea, eb) = (graft.ops.Sketches.hllEstimateRaw(a), graft.ops.Sketches.hllEstimateRaw(b))
      val eu = graft.ops.Sketches.hllEstimateRaw(graft.ops.Sketches.hllMerge(a, b))
      Seq((ea, eb, eu, math.max(0L, ea + eb - eu)))
        .toDF("est_a", "est_b", "est_union", "est_intersect")
    } _,
    // exact heavy hitters with a candidate-bounded shuffle: CMS prune
    // (map-only, broadcast matrix) then exact count — CMS never
    // underestimates, so the result equals the plain exact query the
    // oracle runs; only the COST differs
    "q_heavy_hitters" -> dfq { s =>
      val toks = s.table("documents").select(
        explode(filter(split(lower(col("text")), "\\s+"), x => length(x) > 0)).as("t"))
      graft.ops.Sketches.heavyHitters(toks, col("t"), minCount = 900L)
        .orderBy(desc("cnt"), asc("k"))
    } _,
    // ordered funnel (view → click → purchase): one user-keyed shuffle,
    // sorted-group scan with O(#stages) state; the greedy chain equals the
    // oracle's chained min-aggregates
    "q_funnel" -> dfq { s =>
      graft.ops.Funnel.funnel(s.table("events"), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy("user_id")
    } _,
    // integer PageRank on the near-dup candidate graph: 6 rounds of
    // r' = 0.15 + 0.85·Σ floor(r/deg) at scale 10^6 — bit-replayable
    "q_pagerank" -> dfq { s =>
      val pairs = graft.ops.Dedup.minhashPairs(s.table("documents"), "text", "doc_id",
          k = 16, bands = 4, threshold = 0.3).select("id_a", "id_b")
      graft.ops.Dedup.pageRank(pairs, "id_a", "id_b", iters = 6)
        .select(col("id").as("doc_id"), col("r").as("pr"))
        .orderBy("doc_id")
    } _,
    // decimal aggregate widening: sum/avg over DECIMAL(12,2) per group.
    // The aggregation runs in exact widened decimals, but the RESULT rides
    // as scaled BIGINT cents — decimal OUTPUT columns hash-diverge in the
    // driver (Spark parquet decimals vs DuckDB->pandas rendering), while
    // integral cents are canonical on both sides.
    // the mean rides as an exact scaled-integer quotient — engine-native
    // avg(DECIMAL) is NOT cross-engine exact (DuckDB computes it in DOUBLE,
    // Spark in exact decimal with HALF_UP)
    "q_decimal_agg" -> q(
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS s_cents,
        |       CAST(sum(CAST(ROUND(l_quantity * 100) AS BIGINT)) * 100 AS BIGINT)
        |         div count(*) AS a_x10000,
        |       CAST(min(CAST(l_extendedprice AS DECIMAL(14,2))) * 100 AS BIGINT) AS mn_cents,
        |       CAST(max(CAST(l_extendedprice AS DECIMAL(14,2))) * 100 AS BIGINT) AS mx_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) _,
    // Spark's built-in batch SESSION_WINDOW operator (30-min gap), gated
    // against the islands replay the oracle runs — the declarative
    // sessionization surface next to the SQL-windowed q_sessionize
    "q_session_window" -> q(
      """SELECT user_id, unix_micros(sw.start) AS s_us, unix_micros(sw.end) AS e_us,
        |       count(*) AS n_events
        |FROM (SELECT user_id,
        |             session_window(timestamp_micros(ts DIV 1000), '30 minutes') AS sw
        |      FROM events)
        |GROUP BY user_id, sw
        |ORDER BY user_id, s_us""".stripMargin) _,
    // related terms: top-3 co-occurring partners per anchor term, selected
    // by the bounded-heap TopKPerKey over the symmetrized pair counts
    "q_related_terms" -> dfq { s =>
      val pairs = graft.ops.Index.coOccurrence(s.table("documents"), "text",
          "doc_id", minSup = 100L, topK = 1000)
      val sym = pairs.select(col("a").as("t"), col("b").as("other"), col("cnt"))
        .union(pairs.select(col("b").as("t"), col("a").as("other"), col("cnt")))
      graft.plans.TopKPerKey.topKBy(sym, Seq("t"),
          Seq(("cnt", false), ("other", true)), 3)
        .orderBy("t", "other")
    } _,
    // frequent term-pair mining (2-itemset Apriori): top-50 co-occurring
    // pairs with support ≥ 100 docs; the frequent-term prune runs before
    // any pairing
    "q_cooccur" -> dfq { s =>
      graft.ops.Index.coOccurrence(s.table("documents"), "text", "doc_id",
          minSup = 100L, topK = 50)
    } _,
    // hop-bounded BFS on the near-dup candidate graph: min distance from
    // the doc_id%10==0 seed set within 4 hops (fixed-round min-propagation,
    // bit-replayable in the oracle's chained CTEs)
    "q_bfs_dist" -> dfq { s =>
      val pairs = graft.ops.Dedup.minhashPairs(s.table("documents"), "text", "doc_id",
          k = 16, bands = 4, threshold = 0.3).select("id_a", "id_b")
      val seeds = s.table("documents").where(col("doc_id") % 10 === 0)
      graft.ops.Dedup.bfsDistances(pairs, "id_a", "id_b", seeds, "doc_id",
          maxHops = 4)
        .orderBy("id")
    } _,
    // local clustering-coefficient pieces on the near-dup candidate graph:
    // (id, triangles-through, degree) — 2·tri/(deg·(deg−1)) one division away
    "q_clustering" -> dfq { s =>
      val pairs = graft.ops.Dedup.minhashPairs(s.table("documents"), "text", "doc_id",
          k = 16, bands = 4, threshold = 0.3).select("id_a", "id_b")
      graft.ops.Dedup.clusteringPieces(pairs, "id_a", "id_b").orderBy("id")
    } _,
    // k-core peeling on the near-dup candidate graph: surviving nodes of
    // the 2-core with their within-core degree (dense-cluster filter)
    "q_kcore" -> dfq { s =>
      val pairs = graft.ops.Dedup.minhashPairs(s.table("documents"), "text", "doc_id",
          k = 16, bands = 4, threshold = 0.3).select("id_a", "id_b")
      graft.ops.Dedup.kCore(pairs, "id_a", "id_b", k = 2, iters = 10)
        .orderBy("id")
    } _,
    // triangle enumeration on the near-dup candidate graph (oriented
    // wedge join + closing edge; each a<b<c triangle once)
    "q_triangles" -> dfq { s =>
      val pairs = graft.ops.Dedup.minhashPairs(s.table("documents"), "text", "doc_id",
          k = 16, bands = 4, threshold = 0.3).select("id_a", "id_b")
      graft.ops.Dedup.triangles(pairs, "id_a", "id_b").orderBy("a", "b", "c")
    } _,
    // cohort retention matrix: signup-day cohorts × active-day offsets,
    // all-integer day arithmetic (ns DIV 86400e9)
    "q_cohort" -> dfq { s =>
      graft.ops.Funnel.cohortRetention(s.table("events"), "user_id", "event_type",
          "ts", anchorType = "signup")
        .orderBy("cohort_day", "offset_day")
    } _,
    // bloom-pruned JOIN (the runtime-filter shape): the probe side is
    // scan-filtered under the broadcast bits BEFORE the join; no false
    // negatives + the join dropping false positives ⇒ result provably
    // equals the plain join the oracle runs — only the shuffle volume
    // differs (candidates instead of the whole fact side)
    "q_bloom_join" -> dfq { s =>
      val build = s.table("supplier").where(col("s_suppkey") % 7 === 0)
        .select(col("s_suppkey"), col("s_nationkey"))
      val bits = graft.ops.Sketches.bloomBits(build, col("s_suppkey"), mBits = 4096, k = 3)
      val pruned = graft.ops.Sketches.bloomProbe(
        s.table("lineitem").select("l_orderkey", "l_linenumber", "l_suppkey"),
        col("l_suppkey"), bits, 4096, 3)
      pruned.join(build, pruned("l_suppkey") === build("s_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("s_nationkey"))
        .orderBy("l_orderkey", "l_linenumber")
    } _,
    // ---- retrieval: inverted index + conjunctive search --------------------
    "q_inverted_index" -> dfq { s =>
      graft.ops.Index.invertedIndex(s.table("documents"), "text", "doc_id",
          minDf = 1, maxDf = 390)
        .select(col("term"), col("df"), array_join(col("postings"), ",").as("plist"))
        .orderBy("term")
    } _,
    "q_postings_search" -> dfq { s =>
      val idx = graft.ops.Index.invertedIndex(s.table("documents"), "text", "doc_id")
      graft.ops.Index.searchAll(idx, Seq("spark", "scan", "dup")).orderBy("doc_id")
    } _,
    // ---- full Gopher/MassiveText rule battery (map-only, integer-exact) ----
    // stop list adapted to the synthetic corpus's vocabulary so the combined
    // `pass` gate is non-vacuous in BOTH directions (~265/500 pass)
    "q_gopher_rules" -> dfq { s =>
      graft.ops.Curation.gopherRules(s.table("documents"), "text", "doc_id",
          minWords = 40, stopList = Seq("the", "a", "of", "and"))
        .orderBy("doc_id")
    } _,
    // C4 line-level cleaning battery (the other half of the web-cleaning
    // stack next to the document-level gopher rules). Testdata documents are
    // single-line, so the query derives a hostile multi-line page (shared
    // SQL fragment — identical derivation in the oracle) where every rule
    // observably fires: no-terminal-punct lines, a javascript line, a
    // too-short line, and doc_id-keyed lorem-ipsum / curly-brace page kills
    "q_c4_filter" -> dfq { s =>
      val pages = s.table("documents")
        .select(col("doc_id"), expr(c4PageSql).as("page"))
      graft.ops.Curation.c4Filter(pages, "page", "doc_id").orderBy("doc_id")
    } _,
    // URL canonicalization (crawl-dedup pre-step): hostile raw URLs derived
    // from doc_id — mixed case, default/explicit ports, trailing slashes,
    // tracking params out of order AND case-varied (UTM_Medium/FBCLID must
    // strip like their lowercase family), fragments, empty paths/queries,
    // empty params — must
    // normalize to the PLANTED canonical form the oracle derives directly
    // from doc_id arithmetic (q_compress pattern: independent derivation,
    // not a re-implementation). Map-only builtins, no UDF
    "q_url_normalize" -> dfq { s =>
      val raw = expr(
        """concat('HTTP', CASE WHEN doc_id % 3 = 0 THEN 'S' ELSE '' END,
          |  '://ExAmple', CAST(doc_id % 7 AS STRING), '.CoM',
          |  CASE WHEN doc_id % 3 = 0 THEN ':443' WHEN doc_id % 5 = 0 THEN ':80'
          |       WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END,
          |  CASE WHEN doc_id % 9 = 0 THEN ''
          |       ELSE concat('/Path/', CAST(doc_id % 13 AS STRING),
          |         CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) END,
          |  CASE WHEN doc_id % 4 = 0 THEN '?b=2&utm_source=x&a=1'
          |       WHEN doc_id % 4 = 1 THEN '?gclid=99&z=26&a=1'
          |       WHEN doc_id % 4 = 2 THEN '?UTM_Medium=Y&&FBCLID=1&GCLid=2'
          |       ELSE '' END,
          |  CASE WHEN doc_id % 6 = 0 THEN '#Frag' ELSE '' END)""".stripMargin)
      // norm is materialized ONCE, then domain derives from the column —
      // embedding urlDomain(normalizeUrl(raw)) would inline the whole norm
      // tree three more times (substr/instr each re-reference it), blowing
      // the codegen method size into interpreted fallback (~5x slower)
      s.table("documents")
        .select(col("doc_id"), graft.ops.Curation.normalizeUrl(raw).as("norm"))
        .select(col("doc_id"), col("norm"),
          graft.ops.Curation.urlDomain(col("norm")).as("domain"))
        .orderBy("doc_id")
    } _,
    // URL-level dedup (the crawl stage BEFORE content hashing): raw variants
    // — case, :80, trailing slash, utm params, fragments — of the same page
    // must collapse to one canonical URL; keeper = min doc_id per canonical.
    // doc_ids congruent mod lcm(20,50)=100 share a page, so each canonical
    // collects multiple planted variants; the oracle derives canonical,
    // keeper, and group size directly from the arithmetic
    "q_url_dedup" -> dfq { s =>
      val raw = expr(
        """concat('HTTP://Site', CAST(doc_id % 20 AS STRING), '.COM',
          |  CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END,
          |  '/p/', CAST(doc_id % 50 AS STRING),
          |  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
          |  CASE WHEN doc_id % 4 < 2 THEN '?utm_source=x' ELSE '' END,
          |  CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)""".stripMargin)
      s.table("documents")
        .select(col("doc_id"), graft.ops.Curation.normalizeUrl(raw).as("norm"))
        .groupBy("norm")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_variants"))
        .orderBy("norm")
    } _,
    // native codegen'd Jaro-Winkler over adjacent part names — the record-
    // linkage scorer, gated raw-double against DuckDB's builtin (the two
    // implementations are bit-compatible; fuzz-verified)
    "q_jaro" -> q(
      """SELECT a.p_partkey AS id, jaro_winkler(a.p_name, b.p_name) AS jw
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
        |ORDER BY id""".stripMargin) _,
    // pipeline observability capstone: the per-stage survivor funnel every
    // production curation run logs — total → C4 page cleaning → gopher
    // document gates → exact dedup, each stage nested in the previous, as
    // (stage, n_docs) rows. Four independent count aggregates over one
    // lineage; at 100 TB these are the cheap side outputs of the main pass
    // (each stage is a scan + the battery projections, counts combine
    // map-side)
    "q_pipeline_report" -> dfq { s =>
      val docs = s.table("documents")
      val pages = docs.select(col("doc_id"), expr(c4PageSql).as("page"))
      val c4s = graft.ops.Curation.c4Filter(pages, "page", "doc_id")
        .where(col("pass")).select("doc_id")
      val gp = graft.ops.Curation.gopherRules(docs, "text", "doc_id",
          minWords = 40, stopList = Seq("the", "a", "of", "and"))
        .where(col("pass")).select("doc_id").join(c4s, "doc_id")
      // head fingerprint (first 30 chars) as the dedup key — testdata has
      // no full-text exact duplicates, but head collisions are real (~5%),
      // so the stage provably removes docs at every SF
      val win = docs.join(gp, "doc_id")
        .select(expr("doc_fingerprint(substring(text, 1, 30))").as("fp"), col("doc_id"))
        .groupBy("fp").agg(min("doc_id").as("doc_id"))
      Seq("s1_total" -> docs, "s2_c4" -> c4s, "s3_gopher" -> gp,
          "s4_dedup" -> win)
        .map { case (n, df) =>
          df.agg(count(lit(1)).as("n_docs")).select(lit(n).as("stage"), col("n_docs"))
        }
        .reduce(_ unionByName _).orderBy("stage")
    } _,
    // capstone v6 — the funnel as DATA, ending in the token-budget cut:
    // C4 page cleaning ∩ gopher document gates, then each source's
    // survivors taken in deterministic-shuffle order until a 600-token
    // budget fills. One lineage: two scan-filter batteries, one broadcast
    // semi-join, one per-source window
    "q_curate_v6" -> dfq { s =>
      val docs = s.table("documents")
      // both gates are map-only predicates over docs — fused into ONE scan
      // filter (r16, guide §2.4; same predicates c4Filter/gopherRules
      // report, so the kept set is unchanged — oracle-pinned). Was: two
      // id-list frames + two joins back onto docs.
      val surv = docs
        .where(graft.ops.Curation.c4Pass(expr(c4PageSql)) &&
          graft.ops.Curation.gopherPass(col("text"), minWords = 40,
            stopList = Seq("the", "a", "of", "and")))
        .selectExpr("source", "doc_id", "token_count(text) AS n_tok")
      graft.ops.Curation.tokenBudgetMix(surv, "source", "doc_id", "n_tok",
          budget = 600, salt = "v6")
        .orderBy("source", "doc_id")
    } _,
    // capstone v7 — the FULL training-data funnel in one lineage: doc-level
    // near-dedup (minhash/LSH/CC) → C4 page gate → gopher rules → unigram-LM
    // surprisal gate → trained quality classifier → exact-substring span
    // dedup AMONG the survivors (first-occurrence is subset-dependent, so
    // the oracle replays it over the gated set) → token-budget mixture →
    // greedy sequence packing → deterministic epoch order. Every stage is
    // the SAME operator its standalone gate exercises; the oracle replays
    // the entire funnel in one WITH RECURSIVE chain.
    "q_curate_v7" -> dfq { s =>
      val docs = s.table("documents")
      val surv = graft.ops.Dedup.nearDedupCorpus(docs, "text", "doc_id",
          k = 16, bands = 4, threshold = 0.3).select(col("doc_id").as("sid"))
      // the C4 / gopher / LM gates are MAP-ONLY over docs (the LM model is
      // a driver-side aggregate broadcast back) — r16 fuses them into the
      // text-attach scan itself as one conjunctive filter (guide §2.4,
      // VERDICT #6): the exact predicates the three id-list frames carried,
      // so the kept set is unchanged (oracle-pinned); only the two
      // inherently join-shaped gates (near-dedup survivorship, trained
      // classifier scores) remain joins. Was: five slim-frame exchanges +
      // five SMJs feeding the text join (r15 shape).
      val lmm = graft.ops.LangModel.trainUnigram(docs, "text", vocabSize = 16)
      val clfOk = graft.ops.Classifier.qualityClassifier(docs, "text", "doc_id",
          classifierLabel, iters = 8)
        .where(col("pred")).select("doc_id")
      // the five-gate lineage feeds span-dedup THREE times (token base,
      // gram explode, source rejoin) — materialize it once.
      val keep = docs.select("doc_id", "source", "text")
        .where(graft.ops.Curation.c4Pass(expr(c4PageSql)) &&
          graft.ops.Curation.gopherPass(col("text"), minWords = 40,
            stopList = Seq("the", "a", "of", "and")) &&
          graft.ops.LangModel.bitsPerTokCol(s, lmm, "text") <= 9)
        .join(surv.select(col("sid").as("doc_id")), "doc_id")
        .join(clfOk, "doc_id")
        .localCheckpoint()
      val sd = graft.ops.Curation.dedupSpans(keep, "text", "doc_id", n = 8)
      val sv = sd.join(keep.select("doc_id", "source"), "doc_id")
        .selectExpr("source", "doc_id", "token_count(kept_text) AS n_tok")
      val mixed = graft.ops.Curation.tokenBudgetMix(sv, "source", "doc_id",
          "n_tok", budget = 600, salt = "v7m")
      val packed = graft.ops.Curation.packSequences(
        mixed.select("source", "doc_id", "n_tok"), "source", "doc_id", "n_tok",
        budget = 512)
      val pos = graft.ops.Curation.deterministicShuffle(
        mixed.select("doc_id"), "doc_id", "v7s")
      packed.join(mixed.select("doc_id", "n_tok"), "doc_id").join(pos, "doc_id")
        .select(col("source"), col("doc_id"),
          col("n_tok").cast("long").as("n_tok"), col("bin").cast("long").as("bin"),
          col("fill").cast("long").as("fill"), col("pos").cast("long").as("pos"))
        .orderBy("source", "doc_id")
    } _,
    // sorted-neighborhood record linkage (the OTHER classic blocking next
    // to PassJoin): distributed sort-rank + bounded successor fan-out,
    // jaro_winkler scoring — the oracle replays the window pairing with an
    // inequality join and DuckDB's builtin scorer
    "q_jw_neighbors" -> dfq { s =>
      graft.ops.Fuzzy.sortedNeighborhood(s.table("part"), "p_partkey", "p_name",
          window = 10, minSim = 0.9)
        .orderBy("id_a", "id_b")
    } _,
    // Aho-Corasick blocklist scan: one automaton pass per doc over the
    // whole pattern list (incl. a multi-word phrase, overlapping patterns,
    // and two absent terms proving negatives); joined output keeps the
    // driver checker list-free
    "q_blocklist" -> q(
      """SELECT doc_id,
        |  array_join(blocklist_matches(text,
        |    array('spark', 'window', 'scan', 'fast key', 'ast', 'gdpr', 'lorem')),
        |    ',') AS hits
        |FROM documents ORDER BY doc_id""".stripMargin) _,
    // boilerplate HTML → text over a derived page (style/script blocks with
    // content, tags, all six entities incl. the &amp;lt; double-escape) —
    // the whole strip is a builtin regexp/replace chain, codegen'd, no UDF
    "q_html_strip" -> dfq { s =>
      s.table("documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.stripHtml(expr(htmlPageSql)).as("clean"))
        .orderBy("doc_id")
    } _,
    // token-budget mixture: per-source quotas counted in TOKENS, cut at the
    // deterministic-shuffle prefix (monotone cumsum = stop-at-overflow)
    "q_token_mix" -> dfq { s =>
      val docs = s.table("documents")
        .selectExpr("source", "doc_id", "token_count(text) AS n_tok")
      graft.ops.Curation.tokenBudgetMix(docs, "source", "doc_id", "n_tok",
          budget = 800, salt = "mix1")
        .orderBy("source", "doc_id")
    } _,
    // incremental index loop: per-half indexes merged must equal the
    // whole-corpus index (the oracle builds the whole directly), proving
    // the merge is order/replay-proof like the dedup-index loop
    "q_index_increment" -> dfq { s =>
      val docs = s.table("documents")
      val even = graft.ops.Index.invertedIndex(
        docs.where(col("doc_id") % 2 === 0), "text", "doc_id")
      val odd = graft.ops.Index.invertedIndex(
        docs.where(col("doc_id") % 2 === 1), "text", "doc_id")
      graft.ops.Index.mergeIndex(even, odd)
        .select(col("term"), col("df"), array_join(col("postings"), ",").as("plist"))
        .orderBy("term")
    } _,
    // deterministic epoch shuffle: pos = rank of md5(salt:id) — reproducible
    // training order via a distributed sort + zipWithIndex (never a
    // single-partition row_number window)
    "q_shuffle_det" -> dfq { s =>
      graft.ops.Curation.deterministicShuffle(s.table("documents"), "doc_id", "ep0")
        .orderBy("doc_id")
    } _,
    // bigram LM with stupid-backoff (the KenLM-lite upgrade of q_lm_score):
    // two counted shuffles train V=16/B=64 tables, scoring is map-only; all
    // integer bit-surprisal so every branch hash-gates
    "q_lm_bigram" -> dfq { s =>
      val docs = s.table("documents")
      val m = graft.ops.LangModel.trainBigram(docs, "text",
        vocabSize = 16, bigramVocab = 64)
      graft.ops.LangModel.bigramSurprisal(docs, m, "text", "doc_id")
        .orderBy("doc_id")
    } _,
    // one-pass corpus profile: the before/after-gate report every pipeline
    // run logs (scalars + histogram map-side combined; exact vocab distinct)
    "q_corpus_stats" -> dfq { s =>
      graft.ops.Curation.corpusStats(s.table("documents"), "text").orderBy("stat")
    } _,
    // ---- connected components as a first-class graph operator --------------
    // edges = LSH near-dup candidate pairs; isolated docs are their own comp
    "q_connected_components" -> dfq { s =>
      val docs = s.table("documents")
      val pairs = graft.ops.Dedup.minhashPairs(docs, "text", "doc_id",
          k = 16, bands = 4, threshold = 0.3).select("id_a", "id_b")
      val comp = graft.ops.Dedup.connectedComponents(pairs, "id_a", "id_b")
      docs.select(col("doc_id")).join(comp, docs("doc_id") === comp("id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
        .orderBy("doc_id")
    } _,

    // ---- fuzzy matching / entity resolution --------------------------------
    // edit-distance self-join on part names via PassJoin pigeonhole blocking
    // (never O(n²)); the oracle runs the brute-force cross join — equality
    // proves the blocking loses no pair
    "q_fuzzy_join" -> dfq { s =>
      graft.ops.Fuzzy.fuzzySelfJoin(s.table("part"), "p_partkey", "p_name", maxDist = 1)
        .orderBy("id_a", "id_b")
    } _,

    // entity-resolution capstone: fuzzy candidate pairs (edit distance ≤ 1,
    // PassJoin blocking) → connected components → one canonical entity id
    // (the component's min part id) per part, singletons mapping to
    // themselves — record linkage end-to-end in one lineage
    "q_entity_ids" -> dfq { s =>
      val pairs = graft.ops.Fuzzy.fuzzySelfJoin(s.table("part"), "p_partkey",
          "p_name", maxDist = 1).select("id_a", "id_b")
      val labels = graft.ops.Dedup.connectedComponents(pairs, "id_a", "id_b")
      s.table("part").select(col("p_partkey"))
        .join(labels, col("p_partkey") === col("id"), "left")
        .select(col("p_partkey"),
          coalesce(col("comp"), col("p_partkey")).as("entity_id"))
        .orderBy("p_partkey")
    } _,
    // ORC round-trip: the other built-in columnar format next to parquet —
    // binary-exact for NULLs/unicode/newlines without CSV quoting hazards
    "q_orc_roundtrip" -> dfq { s =>
      val tricky = expr(
        """CASE WHEN doc_id % 7 = 0 THEN NULL
          |ELSE concat(substring(text, 1, 25), ' é€', char(10), 'tail') END""".stripMargin)
      val df = s.table("documents")
        .select(col("doc_id"), tricky.as("tricky"), col("n_chars"))
      val out = java.nio.file.Files.createTempDirectory("graft_orc_rt").toString
      df.coalesce(2).write.mode("overwrite").orc(out)
      s.read.schema(df.schema).orc(out).orderBy("doc_id")
    } _,

    // ---- time series -------------------------------------------------------
    // rolling z-score outliers per event_type, cross-multiplied to exact
    // integers: flag ⇔ (n·x − s)² > 9·(n·s2 − s²) over a 20-row frame
    "q_anomaly" -> dfq { s =>
      val ev = s.table("events")
        .withColumn("cents", expr("CAST(ROUND(value * 100) AS BIGINT)"))
      graft.ops.TimeSeries.anomalyFlags(ev, "event_type",
          Seq("ts", "event_id"), "cents", window = 20, tSigma = 3)
        .select(col("event_id"), col("event_type"), col("cents"),
                col("roll_n"), col("flag"))
        .orderBy("event_type", "event_id")
    } _,
    // per-user calendar-day resample + forward fill (gap-fill the metric
    // stream); day arithmetic is integer ns-div — exact past 2^53
    "q_resample_fill" -> dfq { s =>
      val ev = s.table("events")
        .withColumn("cents", expr("CAST(ROUND(value * 100) AS BIGINT)"))
      graft.ops.TimeSeries.resampleFill(ev, "user_id", "ts", "cents", "event_id")
        .select(col("key").as("user_id"), col("day"), col("v").as("cents"))
        .orderBy("user_id", "day")
    } _,
    // windowed power-of-two-decay EMA, integer-scaled (Σ 2^(7−j)·x_{t−j})
    "q_ewma" -> dfq { s =>
      val ev = s.table("events")
        .withColumn("cents", expr("CAST(ROUND(value * 100) AS BIGINT)"))
      graft.ops.TimeSeries.ewmaScaled(ev, "event_type",
          Seq("ts", "event_id"), "cents", depth = 8)
        .select(col("event_id"), col("event_type"), col("ewma_scaled"))
        .orderBy("event_type", "event_id")
    } _,

    // session path mining: top-10 in-session event-type trigrams (1-day
    // gap sessions — the sparse testdata stream needs a wide gap to form
    // multi-event sessions), deterministic tie-break (cnt desc, path)
    "q_paths" -> dfq { s =>
      graft.ops.Funnel.topPaths(s.table("events"), "user_id", "event_type",
          "ts", "event_id", gapNs = 86400L * 1000000000L, n = 3, k = 10)
    } _,
    // CUSUM mean-shift detection per metric series, exact integers
    // (baseline = first 50 rows as the rational s0/n0; deviations scaled
    // by n0 so nothing ever divides)
    "q_cusum" -> dfq { s =>
      val ev = s.table("events")
        .withColumn("cents", expr("CAST(ROUND(value * 100) AS BIGINT)"))
      graft.ops.TimeSeries.cusum(ev, "event_type", Seq("ts", "event_id"),
          "cents", baselineN = 50, thresh = 100000L)
        .select(col("event_id"), col("event_type"), col("cusum"), col("changed"))
        .orderBy("event_type", "event_id")
    } _,
    // run-length encoding of each user's event-type stream (SQL islands)
    "q_runs" -> dfq { s =>
      graft.ops.TimeSeries.runLength(s.table("events"), "user_id",
          Seq("ts", "event_id"), "event_type")
        .select(col("key").as("user_id"), col("sym"), col("run_start"),
                col("run_len"))
        .orderBy("user_id", "run_start")
    } _,
    // Spearman rank-correlation statistics per group: exact integer
    // (n, Σd²) over doubled tie-averaged ranks — quantity vs price
    "q_rank_corr" -> dfq { s =>
      val li = s.table("lineitem").select(
        col("l_returnflag").as("rf"),
        expr("CAST(ROUND(l_quantity * 100) AS BIGINT)").as("x"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("y"))
      graft.ops.Profile.rankCorrStats(li, "rf", "x", "y")
        // string-carried like the other decimal gates: sum_d2 is
        // DECIMAL(38,0) (exact past the i64 range an sf1 group exceeds)
        .select(col("key").as("rf"), col("n"),
          col("sum_d2").cast("string").as("sum_d2"))
        .orderBy("rf")
    } _,

    // ---- data-quality profiling --------------------------------------------
    // one-scan tall column profile (nulls / cardinality / native-type range)
    "q_profile" -> dfq { s =>
      graft.ops.Profile.profile(s.table("lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
            "l_linestatus", "l_shipdate"))
    } _,

    // deterministic weighted sampling without replacement: k winners per
    // lang, odds ∝ weight, via min-of-w-tickets (integer A-ES — see
    // Curation.weightedSample); selection is the bounded-heap TopKPerKey
    "q_weighted_sample" -> dfq { s =>
      graft.ops.Curation.weightedSample(s.table("documents"), "doc_id", "lang",
          expr("least(n_chars div 200 + 1, 8)"), k = 10, salt = "ws1")
        .select(col("doc_id"), col("lang"), col("priority"))
        .orderBy("lang", "priority", "doc_id")
    } _,
    // CSV sink/source EXACT round-trip under hostile content — embedded
    // delimiters, double quotes, newlines (multiLine read), unicode,
    // leading/trailing spaces. The oracle recomputes the derived column
    // from parquet directly: equality proves write quoting ∘ read parsing
    // is the identity. (Empty-vs-null is CSV's documented blind spot and
    // is excluded by construction: every derived value is non-empty.)
    "q_csv_roundtrip" -> dfq { s =>
      val tricky = expr(
        """concat('a,"b"', char(10), '  ', substring(text, 1, 20), ' é€ ', char(10), 'z')""")
      val df = s.table("documents")
        .select(col("doc_id"), tricky.as("tricky"), col("n_chars"))
      val out = java.nio.file.Files.createTempDirectory("graft_csv_rt").toString
      df.coalesce(2).write.mode("overwrite")
        .option("header", "true").option("escape", "\"").csv(out)
      s.read.schema(df.schema)
        .option("header", "true").option("multiLine", "true").option("escape", "\"")
        .csv(out)
        .orderBy("doc_id")
    } _,
    // JSONL round-trip of the same hostile content plus NULLs (JSON, unlike
    // CSV, round-trips null exactly: absent field + explicit schema)
    "q_jsonl_roundtrip" -> dfq { s =>
      val tricky = expr(
        """CASE WHEN doc_id % 11 = 0 THEN NULL
          |ELSE concat('a,"b"', char(10), substring(text, 1, 20), ' é€\\') END""".stripMargin)
      val df = s.table("documents")
        .select(col("doc_id"), tricky.as("tricky"), col("n_chars"))
      val out = java.nio.file.Files.createTempDirectory("graft_jsonl_rt").toString
      df.coalesce(2).write.mode("overwrite").json(out)
      s.read.schema(df.schema).json(out).orderBy("doc_id")
    } _,
    // analytics capstone: funnel → conversion durations → exact discrete
    // percentiles, one tall report (two operators composed in one lineage)
    "q_funnel_capstone" -> dfq { s =>
      val f = graft.ops.Funnel.funnel(s.table("events"), "user_id", "event_type",
          "ts", Seq("view", "click", "purchase"))
      val counts = f.agg(
        sum(when(col("reached") >= 1, 1L).otherwise(0L)).as("r1"),
        sum(when(col("reached") >= 2, 1L).otherwise(0L)).as("r2"),
        sum(when(col("reached") >= 3, 1L).otherwise(0L)).as("r3"))
      val durs = f.where(col("reached") === 3)
        .select(lit("all").as("g"), (col("t3") - col("t1")).as("d"))
      val p = graft.ops.Profile.groupPercentilesDisc(durs, "g", "d", Seq(50, 90))
      // left-join from a literal row: with ZERO completed funnels the
      // percentile rows must still exist (NULL-valued) — the oracle's
      // ungrouped aggregate always emits one row
      val pOne = s.range(1).select(lit("all").as("g")).join(p, Seq("g"), "left")
      counts.selectExpr(
          "stack(3, 'reached_view', r1, 'reached_click', r2, 'reached_purchase', r3)" +
            " AS (stat, value)")
        .union(pOne.selectExpr(
          "stack(2, 'p50_conv_ns', p50, 'p90_conv_ns', p90) AS (stat, value)"))
        .orderBy("stat")
    } _,
    // O(1)/row rolling extrema via tile decomposition (a naive w-row frame
    // re-aggregates O(w) per row); order includes event_id — the total
    // order the tile trick requires
    "q_rolling_extrema" -> dfq { s =>
      val ev = s.table("events")
        .withColumn("cents", expr("CAST(ROUND(value * 100) AS BIGINT)"))
      graft.ops.TimeSeries.rollingExtrema(ev, "event_type",
          Seq("ts", "event_id"), "cents", window = 50)
        .select(col("event_id"), col("event_type"), col("cents"),
                col("roll_max"), col("roll_min"))
        .orderBy("event_type", "event_id")
    } _,
    // duplicate-event suppression: drop events within 1h of the previous
    // same-(user, type) event (chained bursts collapse to their first)
    "q_event_dedup" -> dfq { s =>
      graft.ops.TimeSeries.dedupBursts(s.table("events"),
          Seq("user_id", "event_type"), Seq("ts", "event_id"), "ts",
          deltaNs = 3600L * 1000000000L)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id")
    } _,
    // association rules over document co-occurrence: support ≥ 100 docs,
    // confidence ≥ 80% (cross-multiplied integers, both directions)
    "q_assoc_rules" -> dfq { s =>
      graft.ops.Index.assocRules(s.table("documents"), "text", "doc_id",
          minSup = 100L, minConfPct = 80)
        .orderBy("ante", "cons")
    } _,
    // sliding 7-day EXACT distinct users per event_type (fan-out of the
    // deduplicated daily stream into its trailing windows)
    "q_window_distinct" -> dfq { s =>
      graft.ops.TimeSeries.windowedDistinct(s.table("events"), "event_type",
          "ts", "user_id", windowDays = 7)
        .select(col("key").as("event_type"), col("day"), col("nd"))
        .orderBy("event_type", "day")
    } _,
    // the 100 TB variant of the same rollup: sliding 7-day APPROXIMATE
    // distinct users via mergeable HLL day-registers — each day collapses to
    // <=512 register rows BEFORE the window fan-out, so cost is independent
    // of the entity count; the exact-integer estimator is replayed by the
    // oracle bit-for-bit (approximate vs truth, deterministic vs the replay)
    "q_window_distinct_hll" -> dfq { s =>
      graft.ops.TimeSeries.windowedDistinctHll(s.table("events"), "event_type",
          "ts", "user_id", windowDays = 7, p = 9)
        .select(col("key").as("event_type"), col("day"), col("est"))
        .orderBy("event_type", "day")
    } _,
    // trending: per day, the top-3 event types by trailing 7-day event
    // count — the daily-dashboard rollup. Daily counts fan into their
    // trailing windows (the register-fan pattern, counts not entities:
    // keys x days rows, cheap at any event volume), one ranked window per
    // day, grid clamped to the data's max day
    "q_trending" -> dfq { s =>
      val ns = 86400L * 1000000000L
      val daily = s.table("events")
        .selectExpr("event_type", s"ts div ${ns}L AS day")
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val fanned = daily
        .select(col("event_type"), col("c"),
          explode(sequence(col("day"), col("day") + 6)).as("day"))
        .groupBy("day", "event_type").agg(sum("c").as("cnt7"))
      val bounds = daily.agg(max("day").as("dmax"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("day").orderBy(col("cnt7").desc, col("event_type"))
      fanned.join(broadcast(bounds), col("day") <= col("dmax")).drop("dmax")
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
        .orderBy("day", "rank")
    } _,
    // winsorization: acctbal cents clipped to each nation's [p5, p95]
    "q_winsorize" -> dfq { s =>
      val cust = s.table("customer")
        .withColumn("cents", expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"))
      graft.ops.Profile.winsorize(cust, "c_nationkey", "cents", pLo = 5, pHi = 95)
        .select(col("c_custkey"), col("c_nationkey"), col("cents"), col("v_w"))
        .orderBy("c_custkey")
    } _,
    // SCD Type-2 history build: each user's event_type changelog collapsed
    // to half-open validity intervals [valid_from, valid_to) — one key
    // shuffle, lag change-detect + lead validity over the same sort
    "q_scd2" -> dfq { s =>
      graft.ops.Warehouse.scd2(s.table("events"), "user_id", "ts", "event_id",
          Seq("event_type"))
        .orderBy("user_id", "valid_from")
    } _,
    // SCD Type-1 latest-wins state: one max_by shuffle, no window — the
    // upsert-compaction companion to the SCD2 history build
    "q_scd1" -> dfq { s =>
      graft.ops.Warehouse.scd1Latest(s.table("events"), "user_id", "ts",
          "event_id", Seq("event_type"))
        .orderBy("user_id")
    } _,
    // incremental SCD2 (the MERGE pattern): history built from the pre-split
    // changelog, the rest applied with scd2Apply — closed versions untouched,
    // open versions re-seeded; the oracle is the FULL rebuild, so the gate
    // proves incremental ≡ batch
    "q_scd2_increment" -> dfq { s =>
      val splitNs = 1705400000000000000L // ~mid-range of events.ts
      val ev = s.table("events")
      val hist = graft.ops.Warehouse.scd2(ev.where(col("ts") < splitNs),
        "user_id", "ts", "event_id", Seq("event_type"))
      graft.ops.Warehouse.scd2Apply(hist, ev.where(col("ts") >= splitNs),
          "user_id", "ts", "event_id", Seq("event_type"))
        .orderBy("user_id", "valid_from")
    } _,
    // keyed snapshot diff: two orders snapshots derived deterministically
    // (old = keys %3≠0; new = keys %5≠0 with %7 keys repriced +100 cents)
    // classified added/removed/changed via a full-outer merge on the key
    "q_snapshot_diff" -> dfq { s =>
      val base = s.table("orders").select(col("o_orderkey"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderstatus").as("status"))
      val old = base.where(col("o_orderkey") % 3 =!= 0)
      val neu = base.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("cents",
          col("cents") + when(col("o_orderkey") % 7 === 0, 100L).otherwise(0L))
      graft.ops.Warehouse.snapshotDiff(old, neu, Seq("o_orderkey"),
          Seq("cents", "status"))
        .orderBy("o_orderkey")
    } _,
    // data-quality constraint battery over lineitem: completeness, ranges,
    // accepted sets (one scan), uniqueness (count-only shuffles) and
    // referential integrity (distinct-dim left joins); the l_linenumber[1,4]
    // / l_linestatus('O') / half-missing-supplier checks FAIL on purpose so
    // nonzero violation counts are exercised
    "q_dq_report" -> dfq { s =>
      val halfSupp = s.table("supplier").where(col("s_suppkey") % 2 === 0)
      graft.ops.Warehouse.dqReport(s.table("lineitem"),
          notNull = Seq("l_orderkey", "l_quantity"),
          unique = Seq(Seq("l_orderkey", "l_linenumber"), Seq("l_orderkey")),
          ranges = Seq(("l_quantity", 1L, 50L), ("l_linenumber", 1L, 4L)),
          accepted = Seq(("l_returnflag", Seq("A", "N", "R")),
            ("l_linestatus", Seq("O"))),
          refs = Seq(("l_orderkey", s.table("orders"), "o_orderkey"),
            ("l_suppkey", halfSupp, "s_suppkey")))
        .orderBy("check_name")
    } _,
    // k-anonymity audit: quasi-identifier combinations shared by fewer than
    // k rows are re-identifiable — the privacy gate on corpus metadata; one
    // map-side-combined aggregate, delta-sized (violators-only) output
    "q_k_anonymity" -> dfq { s =>
      graft.ops.Warehouse.kAnonymity(s.table("customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 10)
        .selectExpr("c_nationkey", "c_mktsegment", "CAST(n AS BIGINT) AS n")
        .orderBy("c_nationkey", "c_mktsegment")
    } _,
    // deterministic equal-frequency binning (exact-ntile deciles of acctbal
    // cents per nation, ties broken by c_custkey — reproducible where SQL
    // ntile's tie order is engine-arbitrary)
    "q_quantile_bins" -> dfq { s =>
      val cust = s.table("customer")
        .withColumn("cents", expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"))
      graft.ops.Profile.quantileBins(cust, "c_nationkey", "cents",
          "c_custkey", nBins = 10)
        .select("c_custkey", "c_nationkey", "cents", "bucket")
        .orderBy("c_custkey")
    } _,
    // sparse contingency table with exact chi-square pieces: event_type ×
    // user-bucket cell counts + marginals + grand total as integers
    "q_contingency" -> dfq { s =>
      val ev = s.table("events").withColumn("ub", col("user_id") % 7)
      graft.ops.Profile.contingency(ev, "event_type", "ub")
        .orderBy("a", "b")
    } _,
    // mergeable log-binned quantile sketch: registers (key, bin, cnt) over
    // price cents — the persistable/mergeable quantile artifact next to the
    // HLL register file (≤ ~960 integer rows per key at any corpus size)
    "q_qsketch_registers" -> dfq { s =>
      val li = s.table("lineitem")
        .withColumn("cents", expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
      graft.ops.Sketches.qsketchRegisters(li, "l_returnflag", "cents")
        .orderBy("l_returnflag", "bin")
    } _,
    // quantile estimates read back from the registers (crossing bin →
    // lower bound): deterministic, ≤ 1/16 relative error vs exact
    "q_qsketch_quantiles" -> dfq { s =>
      val li = s.table("lineitem")
        .withColumn("cents", expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
      val regs = graft.ops.Sketches.qsketchRegisters(li, "l_returnflag", "cents")
      graft.ops.Sketches.qsketchQuantiles(regs, "l_returnflag", Seq(50, 90, 99))
        .orderBy("l_returnflag")
    } _,
    // sketch-merge gate: registers built on two disjoint shards, unioned
    // and sum-merged — the oracle is the FULL single-pass build, so the
    // gate proves shard-merge ≡ full (the artifact's whole point at 100 TB)
    "q_qsketch_merge" -> dfq { s =>
      val li = s.table("lineitem")
        .withColumn("cents", expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
      val a = graft.ops.Sketches.qsketchRegisters(
        li.where(col("l_orderkey") % 2 === 0), "l_returnflag", "cents")
      val b = graft.ops.Sketches.qsketchRegisters(
        li.where(col("l_orderkey") % 2 =!= 0), "l_returnflag", "cents")
      a.union(b).groupBy("l_returnflag", "bin").agg(sum("cnt").as("cnt"))
        .orderBy("l_returnflag", "bin")
    } _,
    // RFM quintile scoring: per-customer recency/frequency/monetary from
    // orders, scores 1-5 by exact global-rank position arithmetic — three
    // range-partitioned prefix passes, NO single-partition window
    "q_rfm" -> dfq { s =>
      val o = s.table("orders").selectExpr("o_custkey",
        "unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS t_ms",
        "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents")
      val a = o.groupBy("o_custkey").agg(
        max(col("t_ms")).as("last_ms"), count(lit(1)).as("f"),
        sum(col("cents")).as("m_cents"))
      val withR = a.crossJoin(broadcast(o.agg(max(col("t_ms")).as("mx"))))
        .withColumn("r_days", expr("(mx - last_ms) div 86400000"))
        .drop("mx", "last_ms")
      graft.ops.Rank.rfmScores(withR, "o_custkey", "r_days", "f", "m_cents")
        .orderBy("o_custkey")
    } _,
    // ABC / Pareto classification of parts by revenue share: exact global
    // rank + running revenue share via the range-partitioned prefix op
    // (again no single-partition window); A = first 80% of revenue, B = 95%
    "q_abc" -> dfq { s =>
      val rev = s.table("lineitem")
        .withColumn("cents", expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
        .groupBy("l_partkey").agg(sum("cents").as("rev"))
      val pref = graft.ops.Rank.globalPrefix(rev,
        Seq(col("rev").desc, col("l_partkey").asc), "rev",
        rankName = "rnk", cumName = "cum")
      pref.crossJoin(broadcast(rev.agg(sum("rev").as("tot"))))
        .withColumn("cls",
          when(col("cum") * 100 <= col("tot") * 80, "A")
            .when(col("cum") * 100 <= col("tot") * 95, "B").otherwise("C"))
        .drop("tot")
        .orderBy("l_partkey")
    } _,
    // exact GLOBAL median over the whole fact table — the selection face of
    // the global-order machinery: rank every row once (range shuffle +
    // codegen prefix, no single-partition window), pick the rows at the two
    // middle positions ((n+1) div 2 and (n+2) div 2 — equal when n is odd),
    // report them as (lower, upper) median values. Tie order among equal
    // cents is arbitrary but the VALUE at any rank is well-defined, so the
    // oracle needs no matching tiebreak.
    "q_global_median" -> dfq { s =>
      val li = s.table("lineitem")
        .withColumn("cents", expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
        .withColumn("tb", expr("l_orderkey * 10 + l_linenumber"))
        .select("cents", "tb")
      val pref = graft.ops.Rank.globalPrefix(li,
        Seq(col("cents").asc, col("tb").asc), "cents",
        rankName = "rnk", cumName = "cum")
      pref.crossJoin(broadcast(li.agg(count(lit(1)).as("n"))))
        .where(col("rnk") === expr("(n + 1) div 2") ||
          col("rnk") === expr("(n + 2) div 2"))
        .agg(min("cents").as("med_lo"), max("cents").as("med_hi"))
    } _,
    // warehouse-maintenance capstone: the DQ battery run ON the SCD2 output
    // itself — interval invariants as predicate checks (non-negative spans,
    // is_current ⇔ open), uniqueness of (key, valid_from), referential
    // closure back to the source; the version_ge_1h check FAILS on purpose
    // (event bursts produce sub-hour versions) so a nonzero count is exercised
    "q_warehouse_capstone" -> dfq { s =>
      val hist = graft.ops.Warehouse.scd2(s.table("events"), "user_id", "ts",
        "event_id", Seq("event_type"))
      graft.ops.Warehouse.dqReport(hist,
          notNull = Seq("user_id", "event_type", "valid_from"),
          unique = Seq(Seq("user_id", "valid_from")),
          refs = Seq(("user_id", s.table("events").select("user_id"), "user_id")),
          predicates = Seq(
            ("valid_to_after_from", "valid_to IS NULL OR valid_to > valid_from"),
            ("current_iff_open",
              "is_current = CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END"),
            ("version_ge_1h",
              "valid_to IS NULL OR valid_to - valid_from >= 3600000000000")))
        .orderBy("check_name")
    } _,
    // interpolated percentiles (percentile_cont contract) as exact ×100
    // integers — engine-native percentile_cont is double-computed and not
    // cross-engine exact; the scaled-integer form is
    "q_percentile_cont" -> dfq { s =>
      val cust = s.table("customer")
        .withColumn("cents", expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"))
      graft.ops.Profile.groupPercentilesCont(cust, "c_nationkey", "cents",
          Seq(25, 50, 75))
        .orderBy("c_nationkey")
    } _,
    // weighted discrete percentiles: acctbal cents per nation where each
    // customer counts (c_custkey mod 5 + 1) times — the weighted median /
    // p90 without materializing the weight expansion
    "q_weighted_percentiles" -> dfq { s =>
      val cust = s.table("customer")
        .withColumn("cents", expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"))
        .withColumn("w", expr("c_custkey % 5 + 1"))
      graft.ops.Profile.groupWeightedPercentilesDisc(cust, "c_nationkey",
          "cents", "w", Seq(50, 90))
        .orderBy("c_nationkey")
    } _,
    // equi-width histogram of quantities per returnflag: 12 buckets over
    // [1, 60] — quantities stop at 50, so the top buckets prove the
    // empty-cell grid (cnt = 0 rows appear)
    "q_histogram" -> dfq { s =>
      graft.ops.Profile.histogram(s.table("lineitem"), "l_returnflag",
          "l_quantity", lo = 1L, hi = 60L, nbins = 12)
        .orderBy("l_returnflag", "bucket")
    } _,
    // dataset datasheet: the dataset-card numbers in ONE tall report —
    // corpus size, language/source breakdown, exact-dup rate (via the
    // engine's doc_fingerprint), char-length stats (integer mean)
    "q_datasheet" -> q(
      """SELECT stat, value FROM (
        |  SELECT 'n_docs' AS stat, CAST(count(*) AS BIGINT) AS value FROM documents
        |  UNION ALL SELECT 'n_langs', count(DISTINCT lang) FROM documents
        |  UNION ALL SELECT 'n_sources', count(DISTINCT source) FROM documents
        |  UNION ALL SELECT concat('docs_lang_', lang), count(*) FROM documents GROUP BY lang
        |  UNION ALL SELECT concat('docs_src_', source), count(*) FROM documents GROUP BY source
        |  UNION ALL SELECT 'exact_dup_docs',
        |    count(*) - count(DISTINCT doc_fingerprint(text)) FROM documents
        |  UNION ALL SELECT 'total_chars', CAST(sum(n_chars) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'mean_chars_x100',
        |    (CAST(sum(n_chars) AS BIGINT) * 100) div count(*) FROM documents
        |) ORDER BY stat""".stripMargin) _,
    // time-weighted average pieces (step interpolation, second-resolution
    // to keep value·Δt in 64 bits)
    "q_twa" -> dfq { s =>
      val ev = s.table("events").select(
        col("event_type"), col("event_id"),
        expr("ts div 1000000000").as("t_s"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      graft.ops.TimeSeries.timeWeighted(ev, "event_type", "t_s", "event_id", "cents")
        .orderBy("event_type")
    } _,
    // interval-union coverage: each event opens a 2h window; overlapping
    // windows merge (the utilization sweep)
    "q_interval_union" -> dfq { s =>
      val iv = s.table("events").select(
        col("user_id"),
        expr("ts div 1000000000").as("s0"),
        expr("ts div 1000000000 + 7200").as("e0"))
      graft.ops.TimeSeries.intervalCoverage(iv, "user_id", "s0", "e0")
        .orderBy("user_id")
    } _,
    // per-group OLS slope as exact integer numerator/denominator
    "q_ols" -> dfq { s =>
      val li = s.table("lineitem").select(
        col("l_returnflag").as("rf"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"),
        expr("CAST(ROUND(l_extendedprice) AS BIGINT)").as("price_u"))
      graft.ops.Profile.olsStats(li, "rf", "qty", "price_u").orderBy("rf")
    } _,
    // deterministic mode per group (ties → smallest value)
    "q_mode" -> dfq { s =>
      val li = s.table("lineitem").select(
        col("l_returnflag").as("rf"), expr("CAST(l_quantity AS BIGINT)").as("qty"))
      graft.ops.Profile.mode(li, "rf", "qty").orderBy("rf")
    } _,
    // robust median/MAD outlier flags (k=1: beyond one MAD from the
    // median — the detector the outliers themselves can't drag)
    "q_robust_z" -> dfq { s =>
      val cust = s.table("customer")
        .withColumn("cents", expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"))
      graft.ops.Profile.robustOutliers(cust, "c_nationkey", "cents", k = 1)
        .select(col("c_custkey"), col("c_nationkey"), col("cents"),
                col("med"), col("mad"), col("flag"))
        .orderBy("c_custkey")
    } _,
    // group-wise min-max scaling to exact integer ten-thousandths
    "q_minmax_scale" -> dfq { s =>
      val li = s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag").as("rf"),
          expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
      graft.ops.Profile.minMaxScale(li, "rf", "cents", scale = 10000)
        .select(col("l_orderkey"), col("l_linenumber"), col("cents"), col("v_s"))
        .orderBy("l_orderkey", "l_linenumber")
    } _,
    // pairwise correlation sufficient statistics over 4 measures in ONE
    // scan (Pearson r / covariance are one division away; the integer
    // pieces are what hash-gates)
    "q_corr_stats" -> dfq { s =>
      val li = s.table("lineitem").select(
        expr("CAST(l_quantity AS BIGINT)").as("qty"),
        expr("CAST(ROUND(l_extendedprice) AS BIGINT)").as("price_u"),
        expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("disc_c"),
        expr("CAST(ROUND(l_tax * 100) AS BIGINT)").as("tax_c"))
      graft.ops.Profile.corrStats(li, Seq("qty", "price_u", "disc_c", "tax_c"))
    } _,
    // exact discrete percentiles per group (integer position arithmetic)
    "q_percentiles" -> dfq { s =>
      val cust = s.table("customer")
        .withColumn("cents", expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"))
      graft.ops.Profile.groupPercentilesDisc(cust, "c_nationkey", "cents",
          Seq(25, 50, 90, 99))
        .orderBy("c_nationkey")
    } _,

    // Z-order (Morton) clustering key: bit-interleaved (l_partkey,
    // l_suppkey) — the multi-column layout sort key; pure integer bit
    // arithmetic, replayed by the oracle term-for-term
    "q_zorder" -> dfq { s =>
      s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.ops.Layout.zOrderValue(
            Seq(col("l_partkey"), col("l_suppkey")), bits = 16).as("zval"))
        .orderBy("l_orderkey", "l_linenumber")
    } _,

    // ---- relational: pivot / unpivot ---------------------------------------
    // PIVOT with two aggregates per cell (explicit value list: no extra
    // values-collect job, deterministic column order)
    // count cells coalesce to 0: Spark's PIVOT rewrite yields NULL for an
    // empty cell where a FILTERed count yields 0 — the testdata happens to
    // populate every cell, but TPC-H-faithful data would not
    "q_pivot" -> q(
      """SELECT rf, F_sq, coalesce(F_n, 0) AS F_n, O_sq, coalesce(O_n, 0) AS O_n FROM (
        |  SELECT l_returnflag AS rf, l_linestatus AS ls, CAST(l_quantity AS INT) AS q
        |  FROM lineitem)
        |PIVOT (CAST(sum(q) AS BIGINT) AS sq, count(*) AS n FOR ls IN ('F' AS F, 'O' AS O))
        |ORDER BY rf""".stripMargin) _,
    // UNPIVOT two measures to tall (metric, v) form
    "q_unpivot" -> q(
      """SELECT o_orderkey, metric, v FROM (
        |  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
        |         o_custkey AS custkey
        |  FROM orders)
        |UNPIVOT (v FOR metric IN (price_cents, custkey))
        |ORDER BY o_orderkey, metric""".stripMargin) _,
  )

  // DuckDB SQL fragments shared by several oracles.
  private val duckWords = "list_filter(str_split_regex(text, '\\s+'), x -> x <> '')"
  private def duckShingles(n: Int): String = {
    val win = n - 1
    s"""CASE WHEN len(ws) < $n THEN [array_to_string(ws, ' ')]
       |     ELSE [array_to_string(ws[i:i+$win], ' ') for i in range(1, len(ws) - ${win - 1})] END""".stripMargin
  }
  private def duckMd5_60(e: String): String = s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Exact-substring span-dedup CTE chain over `src(doc_id, text)` (Lee et
    * al. 8-gram rule), ending in `sd(doc_id, kept_text)` with empty results
    * dropped — the [[graft.ops.Curation.dedupSpans]] replica, parameterized
    * by source table/CTE so q_dedup_spans (whole corpus) and the curation
    * capstones (gated subset) share one definition. All names s-prefixed to
    * compose with the minhash/curate chains. */
  private def duckSpanCtes(src: String): String =
    s"""sw AS (SELECT doc_id,
       |    list_filter(str_split_regex(text, '\\s+'), x -> x <> '') AS ws
       |  FROM $src),
       |stok AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) - 1 AS pos FROM sw),
       |ssh AS (SELECT doc_id, CASE WHEN len(ws) >= 8
       |    THEN [array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws) - 6)]
       |    ELSE [] END AS gs FROM sw),
       |sgi AS (SELECT doc_id,
       |    ${duckMd5_60("unnest(gs)")} AS fp,
       |    generate_subscripts(gs, 1) - 1 AS pos FROM ssh),
       |swin AS (SELECT doc_id, fp, pos,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM sgi),
       |sdup AS (SELECT doc_id, pos FROM swin WHERE rn > 1),
       |scov AS (SELECT DISTINCT doc_id, pos + o AS cpos
       |        FROM sdup, (SELECT unnest(range(0, 8)) AS o)),
       |skept AS (SELECT t.doc_id, t.pos, t.tok FROM stok t WHERE NOT EXISTS
       |  (SELECT 1 FROM scov c WHERE c.doc_id = t.doc_id AND c.cpos = t.pos)),
       |sd AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS kept_text
       |       FROM skept GROUP BY doc_id HAVING string_agg(tok, ' ' ORDER BY pos) <> '')""".stripMargin

  /** Gopher rule base CTEs `gb`/`gc` over `documents` (stop list matches the
    * gated queries' corpus-adapted list) plus the per-rule predicates —
    * ONE definition, so q_gopher_rules and the q_curate_v5 capstone can
    * never silently drift apart. */
  private val duckGopherCtes: String =
    """gb AS (SELECT doc_id, coalesce(text, '') AS t,
      |         list_filter(str_split_regex(coalesce(text, ''), '\s+'), x -> x <> '') AS gws,
      |         str_split(coalesce(text, ''), chr(10)) AS ls
      |       FROM documents),
      |gc AS (SELECT doc_id, len(gws) AS nw,
      |         coalesce(list_sum(list_transform(gws, x -> length(x))), 0) AS chars,
      |         len(list_filter(gws, x -> regexp_matches(x, '[A-Za-z]'))) AS alphaw,
      |         len(list_intersect(list_distinct(list_transform(gws, x -> lower(x))),
      |             ['the','a','of','and'])) AS stops,
      |         len(ls) AS nl,
      |         len(list_filter(ls, l -> starts_with(trim(l), '-')
      |             OR starts_with(trim(l), '*') OR starts_with(trim(l), '•'))) AS bul,
      |         len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…')) AS ell,
      |         length(t) - length(replace(t, '#', '')) AS hashes,
      |         (length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) // 3 AS ellipses
      |       FROM gb)""".stripMargin

  private val duckGopherRules: Seq[(String, String)] = Seq(
    "r_words" -> "nw >= 40 AND nw <= 100000",
    "r_meanlen" -> "3 * nw <= chars AND chars <= 10 * nw",
    "r_symbol" -> "10 * (hashes + ellipses) <= nw",
    "r_bullet" -> "10 * bul <= 9 * nl",
    "r_ellipsis" -> "10 * ell <= 3 * nl",
    "r_alpha" -> "5 * alphaw >= 4 * nw",
    "r_stop" -> "stops >= 2")

  private val duckGopherPass: String =
    duckGopherRules.map { case (_, e) => s"($e)" }.mkString(" AND ")

  /** Derived hostile multi-line page for `q_c4_filter` — ONE definition
    * parsed by both Spark (`expr`) and DuckDB, so the two sides can never
    * drift. Lines are chosen so every C4 rule observably fires on the
    * single-line testdata: the raw text (no terminal punctuation → dropped),
    * a clean keeper, a javascript line, a <5-word line, a doc_id-keyed
    * keeper, a no-punct fragment, and doc_id-keyed lorem-ipsum (÷7) /
    * curly-brace (÷11) page kills. (Declared before [[duckC4Ctes]], which
    * interpolates it at object init.) */
  private val c4PageSql: String =
    """concat_ws(chr(10),
      |  text,
      |  'The quick brown fox jumps over the lazy dog.',
      |  'Please enable javascript to continue reading this page.',
      |  'Too short.',
      |  concat('Document number ', doc_id, ' contains exactly eight words total.'),
      |  'click here for more',
      |  CASE WHEN doc_id % 7 = 0 THEN 'Lorem ipsum dolor sit amet consectetur.'
      |       ELSE 'Every good page needs a couple more sentences.' END,
      |  CASE WHEN doc_id % 11 = 0 THEN 'body { color: red }'
      |       ELSE 'And a final closing sentence rounds it out.' END)""".stripMargin

  /** Derived HTML page for `q_html_strip` — ONE definition for both engines.
    * Exercises every strip step: a style block with braces, a script block
    * containing a bare `<`, real tags, all six entities, and the
    * `&amp;lt;` double-escape (must decode to the TEXT `&lt;`, proving
    * `&amp;` decodes last). */
  private val htmlPageSql: String =
    """concat('<html><head><style>body { color: red }</style></head><body><h1>',
      |  substr(text, 1, 40),
      |  '</h1><script type="text/javascript">var x = 1 < 2;</script>',
      |  '<p>Rest &amp; more &lt;tags&gt; "here" &#39;quoted&#39;',
      |  ' &nbsp; &amp;lt;escaped.</p></body></html>')""".stripMargin

  /** C4 battery CTE chain over the derived page ([[c4PageSql]]) ending in
    * `c4f(doc_id, n_lines, n_kept, n_sentences, has_lorem, has_brace, ct,
    * pass)` — ONE definition shared by q_c4_filter and the
    * q_pipeline_report capstone. */
  private val duckC4Ctes: String =
    s"""c4pg AS (SELECT doc_id, $c4PageSql AS page FROM documents),
       |c4l AS (SELECT doc_id, page,
       |         list_transform(string_split(page, chr(10)), x -> trim(x)) AS lines
       |       FROM c4pg),
       |c4k AS (SELECT doc_id, page, len(lines) AS n_lines,
       |         list_filter(lines, x -> regexp_matches(x, '[.!?"]$$')
       |           AND len(list_filter(str_split_regex(x, '\\s+'), w -> w <> '')) >= 5
       |           AND NOT contains(lower(x), 'javascript')) AS kept
       |       FROM c4l),
       |c4c AS (SELECT doc_id, n_lines, len(kept) AS n_kept,
       |         array_to_string(kept, chr(10)) AS ct,
       |         contains(lower(page), 'lorem ipsum') AS has_lorem,
       |         contains(page, '{') AS has_brace
       |       FROM c4k),
       |c4f AS (SELECT doc_id, n_lines, n_kept,
       |         len(ct) - len(regexp_replace(ct, '[.!?]', '', 'g')) AS n_sentences,
       |         has_lorem, has_brace, ct,
       |         (NOT has_lorem AND NOT has_brace
       |          AND len(ct) - len(regexp_replace(ct, '[.!?]', '', 'g')) >= 3) AS pass
       |       FROM c4c)""".stripMargin

  /** LSH candidate pairs (threshold 0.3) → symmetric edges → recursive
    * min-label components → `surv` (first-occurrence survivors). Appended
    * after [[duckMinhashCtes]]; shared by q_near_dedup,
    * q_connected_components, and q_curate_v5. */
  private val duckNearDupCcCtes: String =
    """p AS (SELECT id_a, id_b FROM jac
      |      WHERE CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) >= 0.3),
      |edges AS (SELECT id_a AS s, id_b AS d FROM p
      |          UNION ALL SELECT id_b AS s, id_a AS d FROM p),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id),
      |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
      |surv AS (SELECT d.doc_id FROM documents d JOIN comp c2 ON c2.id = d.doc_id
      |         WHERE c2.comp = d.doc_id)""".stripMargin

  /** Integer PageRank replay over the near-dup candidate graph — `iters`
    * chained CTEs of the engine's exact arithmetic. */
  /** k-core peeling replay over the near-dup candidate graph: `iters`
    * chained delete-degree-<k rounds (peeling is confluent and idempotent
    * at the fixed point, so fixed rounds ≡ the engine's converged result). */
  private def duckKCoreSql(k: Int, iters: Int): String = {
    // each round reads the previous THREE times — without MATERIALIZED the
    // inlined expansion is 3^iters scans of the base graph
    val rounds = (1 to iters).map { i =>
      s"""e${i + 1} AS MATERIALIZED (SELECT a, b FROM e$i
         |  WHERE a IN (SELECT a FROM e$i GROUP BY a HAVING count(*) >= $k)
         |    AND b IN (SELECT a FROM e$i GROUP BY a HAVING count(*) >= $k))""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $duckMinhashCtes,
       |p AS (SELECT id_a, id_b FROM jac
       |      WHERE CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) >= 0.3),
       |pe AS (SELECT id_a AS a, id_b AS b FROM p WHERE id_a <> id_b),
       |e1 AS MATERIALIZED (
       |  SELECT a, b FROM (SELECT a, b FROM pe UNION ALL SELECT b AS a, a AS b FROM pe)
       |  GROUP BY a, b),
       |$rounds
       |SELECT a AS id, CAST(count(*) AS BIGINT) AS deg
       |FROM e${iters + 1} GROUP BY a ORDER BY id""".stripMargin
  }

  /** Full single-pass qsketch register build — the oracle for both the
    * direct build (q_qsketch_registers) and the shard-merge
    * (q_qsketch_merge). */
  private val duckQsketchRegistersSql: String =
    """WITH c AS (SELECT l_returnflag AS k,
      |             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
      |           FROM lineitem),
      |f AS (SELECT k, v FROM c WHERE v IS NOT NULL AND v >= 0),
      |b AS (SELECT k, CASE WHEN v < 16 THEN v
      |                ELSE (length(bin(v)) - 5) * 16 + (v >> (length(bin(v)) - 5))
      |                END AS bin
      |      FROM f)
      |SELECT k AS l_returnflag, CAST(bin AS BIGINT) AS bin,
      |       CAST(count(*) AS BIGINT) AS cnt
      |FROM b GROUP BY 1, 2 ORDER BY l_returnflag, bin""".stripMargin

  /** SCD2 rebuild from the full events changelog — the oracle for both the
    * batch build (q_scd2) and the incremental MERGE (q_scd2_increment). */
  private val duckScd2Sql: String =
    """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
      |           FROM events),
      |c AS (SELECT *, lag(event_type)
      |               OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
      |      FROM e),
      |v AS (SELECT user_id, event_type, t, event_id FROM c
      |      WHERE prev IS NULL OR prev IS DISTINCT FROM event_type),
      |f AS (SELECT user_id, event_type, t AS valid_from,
      |             lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
      |               AS valid_to
      |      FROM v)
      |SELECT user_id, event_type, CAST(valid_from AS BIGINT) AS valid_from,
      |       CAST(valid_to AS BIGINT) AS valid_to,
      |       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT)
      |         AS is_current
      |FROM f ORDER BY user_id, valid_from""".stripMargin

  /** Entity-resolution replay: CC runs at the DISTINCT-NAME level (labels
    * start at each name's min part id, so the converged label is the
    * component's min part id — identical to the engine's id-graph CC, which
    * verifies its own convergence). The name graph's diameter is ~1 at the
    * gate SFs; `rounds` = 8 is a wide margin and each round is over the
    * name universe (tiny). */
  private def duckEntityIdsSql(rounds: Int): String = {
    val iter = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.s, least(l.comp, coalesce(m.mc, l.comp)) AS comp
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT se.d AS s, min(lp.comp) AS mc
         |    FROM se JOIN l${i - 1} lp ON lp.s = se.s GROUP BY se.d) m
         |    ON m.s = l.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH names AS (SELECT p_name, min(p_partkey) AS rep FROM part GROUP BY 1),
       |sp AS (SELECT a.p_name AS sa, b.p_name AS sb FROM names a JOIN names b
       |       ON a.p_name < b.p_name
       |       WHERE abs(length(a.p_name) - length(b.p_name)) <= 1
       |         AND levenshtein(a.p_name, b.p_name) <= 1),
       |se AS MATERIALIZED (SELECT sa AS s, sb AS d FROM sp
       |                    UNION ALL SELECT sb, sa FROM sp),
       |l0 AS MATERIALIZED (SELECT p_name AS s, rep AS comp FROM names),
       |$iter
       |SELECT p.p_partkey, CAST(l.comp AS BIGINT) AS entity_id
       |FROM part p JOIN l$rounds l ON l.s = p.p_name
       |ORDER BY p_partkey""".stripMargin
  }

  private def duckBfsSql(hops: Int): String = {
    val rounds = (1 to hops).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, min(d) AS d FROM (
         |  SELECT id, d FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.b AS id, $i AS d
         |  FROM e JOIN (SELECT id FROM d${i - 1} WHERE d = ${i - 1}) f
         |    ON e.a = f.id
         |) GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $duckMinhashCtes,
       |p AS (SELECT id_a, id_b FROM jac
       |      WHERE CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) >= 0.3),
       |pe AS (SELECT id_a AS a, id_b AS b FROM p WHERE id_a <> id_b),
       |e AS (SELECT a, b FROM (SELECT a, b FROM pe UNION ALL SELECT b AS a, a AS b FROM pe)
       |      GROUP BY a, b),
       |d0 AS (SELECT DISTINCT doc_id AS id, 0 AS d FROM documents
       |       WHERE doc_id % 10 = 0),
       |$rounds
       |SELECT id, CAST(d AS BIGINT) AS dist FROM d$hops ORDER BY id""".stripMargin
  }

  private def duckPageRankSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.id, 150000 + (850 * coalesce(s.s, 0)) // 1000 AS r
         |  FROM n LEFT JOIN (
         |    SELECT e.b AS id, sum(rp.r // deg.d) AS s
         |    FROM e JOIN r${i - 1} rp ON rp.id = e.a JOIN deg ON deg.u = e.a
         |    GROUP BY e.b) s USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $duckMinhashCtes,
       |p AS (SELECT id_a, id_b FROM jac
       |      WHERE CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) >= 0.3),
       |pe AS (SELECT id_a AS a, id_b AS b FROM p WHERE id_a <> id_b),
       |e AS (SELECT a, b FROM (SELECT a, b FROM pe UNION ALL SELECT b AS a, a AS b FROM pe)
       |      GROUP BY a, b),
       |deg AS (SELECT a AS u, count(*) AS d FROM e GROUP BY a),
       |n AS (SELECT DISTINCT a AS id FROM e),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
       |$rounds
       |SELECT id AS doc_id, CAST(r AS BIGINT) AS pr FROM r$iters ORDER BY doc_id""".stripMargin
  }

  /** CTE chain computing the exact-integer raw HLL estimate (p=9) from a
    * 60-bit-hash CTE named `h$tag` with column `h`; ends in `e$tag(e)`. */
  private def duckHllEstCtes(tag: String): String =
    s"""r$tag AS (SELECT h & 511 AS b,
       |  max(CASE WHEN h >> 9 = 0 THEN 52 ELSE 52 - length(bin(h >> 9)) END) AS r
       |  FROM h$tag GROUP BY 1),
       |f$tag AS (SELECT gr.b, coalesce(r$tag.r, 0) AS r
       |  FROM (SELECT unnest(range(512)) AS b) gr LEFT JOIN r$tag USING (b)),
       |s$tag AS (SELECT sum(CAST(CAST(1 AS BIGINT) << (62 - r) AS HUGEINT)) AS sm
       |  FROM f$tag),
       |e$tag AS (SELECT CAST((CAST(7213 AS HUGEINT) * 512 * 512 * 512
       |    * CAST(CAST(1 AS BIGINT) << 62 AS HUGEINT))
       |    // ((CAST(10000 AS HUGEINT) * 512 + 10790) * sm) AS BIGINT) AS e
       |  FROM s$tag)""".stripMargin

  /** Temp index path keyed by the input files, so concurrent runs over
    * different SFs (or hosts sharing /tmp) never overwrite each other. */
  private def dedupIdxPath(docs: org.apache.spark.sql.DataFrame, suffix: String): String = {
    val tag = java.lang.Integer.toHexString(docs.inputFiles.toSeq.hashCode)
    s"${System.getProperty("java.io.tmpdir")}/graft_dedup_idx_${suffix}_$tag"
  }

  /** Fixed BPE merge table for `q_bpe_encode` — hand-ordered over the
    * testdata vocabulary so cascades fire (the/sort/batch/join/data/window/
    * scan/spark all fully re-merge); component-before-compound order holds,
    * as a trained list's would. */
  private val bpeFixedMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "s" -> "o", "r" -> "t", "so" -> "rt",
    "b" -> "a", "ba" -> "t", "bat" -> "c", "batc" -> "h",
    "j" -> "o", "jo" -> "i", "joi" -> "n", "d" -> "a", "da" -> "t",
    "dat" -> "a", "w" -> "i", "wi" -> "n", "win" -> "d", "wind" -> "o",
    "windo" -> "w", "s" -> "c", "sc" -> "a", "sca" -> "n",
    "s" -> "p", "sp" -> "a", "spa" -> "r", "spar" -> "k")

  /** Label shared by `q_quality_classifier` and its oracle: sources src0..
    * src9 are the positive class. */
  private val classifierLabel =
    "CASE WHEN CAST(substring(source, 4) AS INT) < 10 THEN 1.0 ELSE 0.0 END"

  /** Unigram-LM surprisal CTE chain ending in `lm(doc_id, bits_per_tok)` —
    * the [[graft.ops.LangModel.lmScore]] replica, extracted from the curate
    * chain so capstones that ALSO need the minhash ctes can compose it (all
    * names are k-prefixed; the minhash chain owns the bare `w`/`sh`). */
  private lazy val duckUnigramLmCtes: String =
    s"""kw AS (SELECT doc_id,
         |    list_filter(str_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts
         |  FROM documents),
         |ktok AS (SELECT doc_id, unnest(ts) AS t FROM kw),
         |kcnt AS (SELECT t, count(*) AS c FROM ktok GROUP BY t),
         |ktot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM kcnt),
         |kvocab AS (SELECT t, c FROM kcnt ORDER BY c DESC, t LIMIT 16),
         |ksurp AS (SELECT k.doc_id,
         |    length(bin((SELECT n FROM ktot) // greatest(coalesce(v.c, 0), 1))) AS b
         |  FROM ktok k LEFT JOIN kvocab v USING (t)),
         |kagg AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS bits FROM ksurp GROUP BY doc_id),
         |lm AS (SELECT kw.doc_id,
         |    CAST(coalesce(a.bits, 0) // greatest(len(kw.ts), 1) AS BIGINT) AS bits_per_tok
         |  FROM kw LEFT JOIN kagg a USING (doc_id))""".stripMargin

  /** Shared CTE chain of the curation-capstone oracles (tokenize, unigram
    * LM, language/quality/repetition scoring) — one definition, so
    * q_curate_v3 and q_curate_v4 can never silently drift apart. No WITH
    * prefix: callers compose it with further CTEs. */
  private lazy val duckCurateCtes: String =
    s"""$duckUnigramLmCtes,
         |tok AS (
         |  SELECT doc_id, list_filter(str_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts,
         |         len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]')) AS n_punct,
         |         length(text) AS len_s
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, len(ts) AS n_tok,
         |    len(list_filter(ts, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS n_stop,
         |    n_punct, len_s,
         |    list_sort([
         |      {'s': -len(list_filter(ts, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))), 'l': 'en'},
         |      {'s': -len(list_filter(ts, x -> x IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))), 'l': 'de'},
         |      {'s': -len(list_filter(ts, x -> x IN ('el','la','de','que','y','en','un','es','por','los'))), 'l': 'es'},
         |      {'s': -len(list_filter(ts, x -> x IN ('le','la','de','et','un','est','que','pour','dans','les'))), 'l': 'fr'},
         |      {'s': -len(list_filter(ts, x -> x IN ('的','是','不','了','在','有','我','他','这','中'))), 'l': 'zh'}
         |    ]) AS sorted
         |  FROM tok),
         |scored AS (
         |  SELECT doc_id,
         |    CASE WHEN struct_extract(sorted[1], 's') = 0 THEN 'und'
         |         ELSE struct_extract(sorted[1], 'l') END AS lang_pred,
         |    CASE WHEN n_tok = 0 THEN 0.0 ELSE
         |      0.4 * (n_stop / CAST(n_tok AS DOUBLE))
         |      + 0.3 * least(n_tok / 100.0, 1.0)
         |      + 0.3 * (1.0 - n_punct / CAST(len_s AS DOUBLE)) END AS score,
         |    CAST(n_tok AS INT) AS n_tok
         |  FROM m),
         |rep AS (
         |  SELECT doc_id, CASE WHEN len(sh) = 0 THEN 0.0
         |    ELSE 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / CAST(len(sh) AS DOUBLE) END AS rr
         |  FROM (SELECT doc_id, ${duckShingles(3)} AS sh
         |        FROM (SELECT doc_id, $duckWords AS ws FROM documents)))""".stripMargin

  /** PII-redaction expression shared by the capstone oracles. */
  private val duckRedact: String =
    """regexp_replace(regexp_replace(regexp_replace(d.text,
         |         'https?://\\S+', '<URL>', 'g'),
         |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
         |         '[+]?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g')""".stripMargin

  /** DuckDB replay of [[graft.ops.Classifier]]'s full-batch logistic GD:
    * identical feature expressions, the same rational fast sigmoid, floor-
    * quantized integer gradient sums, and weight updates with the exact
    * operation shape of the driver loop — K chained CTE iterations, then
    * map-only scoring under wK. */
  private def duckLogitCtes(labelExpr: String, iters: Int, lr: Double = 1.0): String = {
    val fs = graft.ops.Classifier.duckFeatureExprs("text")
    val k = graft.ops.Classifier.numFeatures
    val featCols = fs.zipWithIndex.map { case (e, j) => s"$e AS f$j" }.mkString(",\n    ")
    def mExpr(wAlias: String) = (0 until k).map(j => s"$wAlias.w$j * f$j").mkString(" + ")
    val d = (x: String) => s"CAST($x AS DOUBLE)"
    val p = s"${d("0.5")} + m / (${d("2.0")} * (${d("1.0")} + abs(m)))"
    val sb = new StringBuilder
    // all CTE names carry a c-prefix so the chain composes into larger
    // oracles (q_curate_v4) without collisions
    sb ++= s"cfeat AS (SELECT doc_id,\n    $featCols,\n    CAST($labelExpr AS DOUBLE) AS y\n  FROM documents),\n"
    sb ++= "ccnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cfeat),\n"
    sb ++= "cw0 AS (SELECT " +
      (0 until k).map(j => s"${d("0.0")} AS w$j").mkString(", ") + "),\n"
    for (i <- 1 to iters) {
      val prev = s"cw${i - 1}"
      sb ++= s"cg$i AS (SELECT " + (0 until k).map(j =>
        s"CAST(sum(CAST(floor(($p - y) * f$j * ${d("1000000.0")}) AS BIGINT)) AS BIGINT) AS g$j")
        .mkString(", ") +
        s" FROM (SELECT ${mExpr(prev)} AS m, " +
        (0 until k).map(j => s"f$j").mkString(", ") + s", y FROM cfeat, $prev) t$i),\n"
      sb ++= s"cw$i AS (SELECT " + (0 until k).map(j =>
        s"$prev.w$j - ${d(java.lang.Double.toString(lr))} * (cg$i.g$j / (ccnt.n * ${d("1000000.0")})) AS w$j")
        .mkString(", ") + s" FROM $prev, cg$i, ccnt),\n"
    }
    sb ++= s"clf AS (SELECT doc_id, CAST(floor(m * ${d("1000000.0")}) AS BIGINT) AS margin6, " +
      s"m > ${d("0.0")} AS pred FROM (SELECT doc_id, ${mExpr(s"cw$iters")} AS m FROM cfeat, cw$iters) tm)"
    sb.toString
  }

  private def duckLogit(labelExpr: String, iters: Int): String =
    s"WITH ${duckLogitCtes(labelExpr, iters)}\n" +
      "SELECT doc_id, margin6, pred FROM clf ORDER BY doc_id"

  /** DuckDB replay of [[graft.ops.Bpe]]'s TRAINER: the word-count table,
    * bracket symbolization, and `k` chained merge iterations — each one
    * weighted adjacent-pair counting, the (count DESC, lhs, rhs) argmin
    * tie-break, and a global bracket-replace application — emitting the
    * learned merge list itself. String tie-breaks compare per byte (UTF-8)
    * vs the JVM's UTF-16 code units — identical on ASCII corpora. */
  private def duckBpeTrain(k: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String](
      // the engine trains on the top-50000 words by (count DESC, word ASC);
      // replicate the truncation so the gate stays correct on any corpus
      """wc AS MATERIALIZED (SELECT w, c FROM (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (SELECT unnest(list_filter(str_split_regex(lower(coalesce(text,'')), '\s+'), x -> x <> '')) AS w FROM documents) GROUP BY w) ORDER BY c DESC, w LIMIT 50000)""",
      """words0 AS MATERIALIZED (SELECT w, c, array_to_string(list_transform(list_filter(string_split_regex(w,''), ch -> ch <> chr(1) AND ch <> chr(2)), ch -> chr(1)||ch||chr(2)),'') AS s FROM wc)""")
    for (i <- 1 to k) {
      val prev = s"words${i - 1}"
      parts += s"syms$i AS MATERIALIZED (SELECT c, str_split(substr(s, 2, length(s)-2), chr(2)||chr(1)) AS sy FROM $prev)"
      parts += s"pl$i AS MATERIALIZED (SELECT c, unnest([{'a': sy[i], 'b': sy[i+1]} for i in range(1, len(sy))]) AS p FROM syms$i)"
      parts += s"best$i AS MATERIALIZED (SELECT p.a AS a, p.b AS b FROM pl$i GROUP BY p.a, p.b ORDER BY sum(c) DESC, p.a, p.b LIMIT 1)"
      parts += s"words$i AS MATERIALIZED (SELECT w, c, replace(s, chr(1)||(SELECT a FROM best$i)||chr(2)||chr(1)||(SELECT b FROM best$i)||chr(2), chr(1)||(SELECT a FROM best$i)||(SELECT b FROM best$i)||chr(2)) AS s FROM $prev)"
    }
    val union = (1 to k)
      .map(i => s"SELECT ${i - 1} AS rank, a AS lhs, b AS rhs FROM best$i")
      .mkString(" UNION ALL ")
    "WITH " + parts.mkString(",\n") + s"\nSELECT * FROM ($union) ORDER BY rank"
  }

  /** DuckDB replay of [[graft.ops.Bpe]]'s encoder on lambda variable `wx`:
    * strip the reserved bracket code points (the engine drops them at
    * symbolization), bracket every remaining code point with chr(1)/chr(2),
    * then one plain `replace` per merge in rank order — the engine's exact
    * flat-replace algorithm. */
  private def duckBpe(merges: Seq[(String, String)]): String =
    merges.foldLeft(
      "array_to_string(list_transform(list_filter(string_split_regex(wx,''), " +
        "c -> c <> chr(1) AND c <> chr(2)), c -> chr(1)||c||chr(2)),'')") {
      case (acc, (a, b)) =>
        s"replace($acc, chr(1)||'$a'||chr(2)||chr(1)||'$b'||chr(2), chr(1)||'$a$b'||chr(2))"
    }
  private def duckCos(a: String, b: String): String =
    s"""(list_reduce([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, 65)], (x, y) -> x + y)
       | / (sqrt(list_reduce([CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE) for i in range(1, 65)], (x, y) -> x + y))
       |  * sqrt(list_reduce([CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, 65)], (x, y) -> x + y))))""".stripMargin
  /** Shared PQ CTE chain ending in `sc(q_id, vec_id, sim)` — sampled
    * codebooks, argmin code assignment, reconstruction, flat-order cosine —
    * used by q_pq_topk / q_ivfpq_topk / q_pq_rerank. Bit-exact vs the
    * engine's pqEncode + pqSim. */
  private lazy val duckPqCtes: String =
    s"""samp AS (SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS code
       |              FROM embeddings ORDER BY vec_id LIMIT 16),
       |cb AS (SELECT ss.s, p.code, [p.embedding[ss.s*8 + j] for j in range(1, 9)] AS cent
       |       FROM (SELECT unnest(range(8)) AS s) ss, samp p),
       |d AS (SELECT e.vec_id, cb.s, cb.code,
       |        list_sum([(CAST(e.embedding[cb.s*8 + j] AS DOUBLE) - CAST(cb.cent[j] AS DOUBLE))
       |                * (CAST(e.embedding[cb.s*8 + j] AS DOUBLE) - CAST(cb.cent[j] AS DOUBLE))
       |                  for j in range(1, 9)]) AS d2
       |      FROM embeddings e, cb),
       |enc AS (SELECT vec_id, s, code FROM (
       |          SELECT vec_id, s, code,
       |                 row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |          FROM d) WHERE rn = 1),
       |recon AS (SELECT enc.vec_id, flatten(list(cb.cent ORDER BY enc.s)) AS rv
       |          FROM enc JOIN cb ON cb.s = enc.s AND cb.code = enc.code
       |          GROUP BY enc.vec_id),
       |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
       |sc AS (SELECT q.q_id, r.vec_id, ${duckCos("q.qe", "r.rv")} AS sim FROM q, recon r)""".stripMargin

  private lazy val duckPqTopK: String =
    s"""WITH $duckPqCtes,
       |rk AS (SELECT q_id, vec_id, sim,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
       |       FROM sc)
       |SELECT q_id, vec_id, rank, CAST(ROUND(sim * 10000) AS BIGINT) AS c4
       |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** PQ shortlist (rank ≤ 30 on compressed scores) + exact-cosine rerank —
    * the refine topology [[graft.ops.Similarity.pqTopKRerank]] replays. */
  private lazy val duckPqRerank: String =
    s"""WITH $duckPqCtes,
       |sl AS (SELECT q_id, vec_id FROM (
       |         SELECT q_id, vec_id,
       |                row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |         FROM sc) WHERE rn <= 30),
       |ex AS (SELECT sl.q_id, sl.vec_id, ${duckCos("q.qe", "e.embedding")} AS sim
       |       FROM sl JOIN q USING (q_id) JOIN embeddings e USING (vec_id)),
       |rk AS (SELECT q_id, vec_id, sim,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
       |       FROM ex)
       |SELECT q_id, vec_id, rank, CAST(ROUND(sim * 10000) AS BIGINT) AS c4
       |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Shared minhash CTE chain (k=16, 4 bands × 4 rows) ending in `jac`
    * (candidate pairs + intersection/set sizes). */
  private lazy val duckMinhashCtes: String =
    s"""w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |sh AS (SELECT doc_id, ${duckShingles(3)} AS shingles FROM w),
       |hs AS (SELECT doc_id, [${duckMd5_60("s2")} % 1073741789 for s2 in shingles] AS bases FROM sh),
       |sig AS (SELECT doc_id, [coalesce(list_min([
       |    ((${duckMd5_60("CAST(seed AS VARCHAR) || 'a'")} % 1073741789) * h
       |     + (${duckMd5_60("CAST(seed AS VARCHAR) || 'b'")} % 1073741789)) % 1073741789
       |  for h in bases]), 0) for seed in range(16)] AS sig FROM hs),
       |band AS (SELECT doc_id, t.b, ${duckMd5_60("array_to_string(sig[t.b*4+1:t.b*4+4], ',')")} AS bh
       |         FROM sig, (SELECT unnest(range(4)) AS b) t),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |         FROM band a JOIN band b2 USING (b, bh) WHERE a.doc_id < b2.doc_id),
       |jac AS (SELECT id_a, id_b,
       |          len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles))) AS i,
       |          len(list_distinct(sa.shingles)) AS la, len(list_distinct(sb.shingles)) AS lb
       |        FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)""".stripMargin

  private val duckSimhash =
    s"""SELECT doc_id, CAST(list_sum([CASE WHEN CAST(list_sum([
       |    len(list_filter(ts, x -> x = t)) *
       |    (CASE WHEN (${duckMd5_60("t")} >> i) & 1 = 1 THEN 1 ELSE -1 END)
       |  for t in dts]) AS BIGINT) > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END
       |  for i in range(60)]) AS BIGINT) AS sig
       |FROM (SELECT doc_id, list_distinct(ts) AS dts, ts
       |      FROM (SELECT doc_id, $duckWords AS ts FROM documents))""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_gcd" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(gcd(CAST(l_partkey AS INT), CAST(l_suppkey AS INT)) AS INT) AS g
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_div_error" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_suppkey % 7 = 0 THEN NULL
        |            ELSE CAST(CAST(l_partkey AS INT) // CAST(l_suppkey % 7 AS INT) AS INT) END AS div_value,
        |       CASE WHEN l_suppkey % 7 = 0 THEN 'division by zero' END AS div_error
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_length" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS len_s, CAST(octet_length(ENCODE(text)) AS INT) AS len_b
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_split" ->
      """SELECT doc_id, array_to_string(str_split(text, ' '), '|') AS words
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_array_sum" ->
      """SELECT doc_id, CAST(list_sum(list_transform(str_split(text, ' '), x -> CAST(length(x) AS INT))) AS INT) AS s
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_key_value" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag AS k, l_linestatus AS v,
        |       CAST(NULL AS VARCHAR) AS nk, CAST(NULL AS VARCHAR) AS nv
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_range_setof" ->
      """SELECT l_orderkey, l_linenumber, CAST(t.x AS INT) AS value
        |FROM lineitem, UNNEST(range(l_linenumber)) AS t(x)
        |ORDER BY l_orderkey, l_linenumber, value""".stripMargin,
    "q_key_values" ->
      """SELECT l_orderkey, l_linenumber, u.k AS k, u.v AS v
        |FROM lineitem,
        |     UNNEST([{'k': l_returnflag, 'v': l_linestatus},
        |             {'k': 'q', 'v': CAST(l_linenumber AS VARCHAR)}]) AS t(u)
        |ORDER BY l_orderkey, l_linenumber, k, v""".stripMargin,
    "q_variadic" ->
      """SELECT l_orderkey, l_linenumber,
        |       concat_ws('|', l_returnflag, l_linestatus, CAST(l_linenumber AS VARCHAR)) AS c
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_sum_udaf" ->
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS s
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_weighted_avg" ->
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_quantity AS INT) * l_linenumber) AS DOUBLE)
        |         / CAST(sum(l_linenumber) AS DOUBLE) AS wa
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_median_udaf" ->
      """SELECT c_nationkey, CAST(median(c_acctbal) AS DOUBLE) AS m
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_median_bounded" ->
      """SELECT c_nationkey, CAST(median(c_acctbal) AS DOUBLE) AS m
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_decimal_add" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(CAST(l_quantity AS DECIMAL(18,2)) + CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS d
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_to_json" ->
      """SELECT doc_id, '"' || source || '"' AS js, CAST(n_chars AS VARCHAR) AS jn
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_script" ->
      """SELECT doc_id, doc_id * 3 + 1 AS s
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_script_agg" ->
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ss
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_script_table" ->
      """SELECT l_orderkey, l_linenumber, CAST(t.u AS BIGINT) AS v
        |FROM lineitem,
        |     UNNEST(CASE WHEN l_linenumber <= 1 THEN [l_linenumber]
        |                 WHEN l_linenumber = 2 THEN [l_linenumber, l_linenumber + 1]
        |                 ELSE [l_linenumber, l_linenumber + 1, l_linenumber + 2] END) AS t(u)
        |ORDER BY l_orderkey, l_linenumber, v""".stripMargin,
    "q_columnar_gcd" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(gcd(CAST(l_partkey AS INT), CAST(l_suppkey AS INT)) AS INT) AS g
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_remote_gcd" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(gcd(CAST(l_partkey AS INT), CAST(l_suppkey AS INT)) AS INT) AS g
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_remote_dict" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_python_gcd" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(gcd(CAST(l_partkey AS INT), CAST(l_suppkey AS INT)) AS INT) AS g
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_remote_div_error" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_suppkey % 7 = 0 THEN NULL
        |            ELSE CAST(CAST(l_partkey AS INT) // CAST(l_suppkey % 7 AS INT) AS INT) END AS div_value,
        |       CASE WHEN l_suppkey % 7 = 0 THEN 'division by zero' END AS div_error
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_python_div_error" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_suppkey % 7 = 0 THEN NULL
        |            ELSE CAST(CAST(l_partkey AS INT) // CAST(l_suppkey % 7 AS INT) AS INT) END AS div_value,
        |       CASE WHEN l_suppkey % 7 = 0
        |            THEN 'ZeroDivisionError: integer division or modulo by zero' END AS div_error
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_js_div_error" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_suppkey % 7 = 0 THEN NULL
        |            ELSE CAST(CAST(l_partkey AS INT) // CAST(l_suppkey % 7 AS INT) AS INT) END AS div_value,
        |       CASE WHEN l_suppkey % 7 = 0 THEN 'RangeError: division by zero' END AS div_error
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_wasm_gcd" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(gcd(CAST(l_partkey AS BIGINT), CAST(l_suppkey AS BIGINT)) AS BIGINT) AS g
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_wasm_popcnt" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(bit_count(CAST(l_orderkey AS BIGINT)) AS BIGINT) AS pc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_wasm_count_byte" ->
      """SELECT doc_id,
        |       CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS ne
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_wasm_simd_count" ->
      """SELECT doc_id,
        |       CAST(length(text) - length(replace(text, 'a', '')) AS BIGINT) AS na
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_wasm_sum_udaf" ->
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_wasm_substring" ->
      """SELECT doc_id, substr(text, 9, 24) AS sub
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_wasm_weighted_avg" ->
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_quantity AS INT) * l_linenumber) AS DOUBLE)
        |         / CAST(sum(l_linenumber) AS DOUBLE) AS wa
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_wasm_table" ->
      """SELECT l_orderkey, l_linenumber, CAST(u.d AS BIGINT) AS d
        |FROM lineitem,
        |     UNNEST(list_filter(range(1, CAST(l_linenumber AS BIGINT) + 1),
        |                        x -> l_linenumber % x = 0)) AS u(d)
        |ORDER BY l_orderkey, l_linenumber, d""".stripMargin,
    "q_wasm_div_error" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_suppkey % 7 = 0 THEN NULL
        |            ELSE CAST(CAST(l_partkey AS BIGINT) // CAST(l_suppkey % 7 AS BIGINT) AS BIGINT) END AS div_value,
        |       CASE WHEN l_suppkey % 7 = 0 THEN 'integer divide by zero' END AS div_error
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_wasm_real_binary" ->
      """SELECT doc_id,
        |  CAST(gcd(doc_id + 7, doc_id % 97 + 3) AS INT) AS g,
        |  upper('doc ' || CAST(doc_id AS VARCHAR) || ' of ' || source) AS up,
        |  doc_id + strlen(text) AS va
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_wasm_real_agg" ->
      """SELECT source, CAST(sum((doc_id % 50) * (doc_id % 50)) AS BIGINT) AS ss
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_wasm_real_math" ->
      """SELECT doc_id,
        |  CAST(ROUND(sqrt(CAST((doc_id % 40) * (doc_id % 40)
        |                     + (doc_id % 30) * (doc_id % 30) AS DOUBLE)) * 1000) AS BIGINT) AS h3,
        |  CAST((doc_id % 100) * (doc_id % 50) + (doc_id % 25) AS BIGINT) AS f,
        |  CAST(abs(doc_id - strlen(text)) AS BIGINT) AS sp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_wasm_real_table" ->
      """SELECT doc_id, CAST(u.d AS INT) AS d
        |FROM documents,
        |     UNNEST(list_filter(range(1, (doc_id % 36 + 1) + 1),
        |                        x -> (doc_id % 36 + 1) % x = 0)) AS u(d)
        |ORDER BY doc_id, d""".stripMargin,
    // the rustc/LLVM-built fixture replayed independently: gcd is DuckDB's
    // builtin; mix replays the lattice (guest computes in i64 since r12, so
    // the gate is scale-independent; operands nonnegative, truncated %
    // agrees); poly/fma operands are integer-valued — every product/sum is
    // exact in f64/f32, no rounding to match
    "q_wasm_rustc_math" ->
      """SELECT doc_id,
        |  CAST(gcd(doc_id + 30, doc_id % 89 + 5) AS BIGINT) AS g,
        |  CAST((doc_id * 31 + (doc_id % 61 + 1) * 7
        |        + doc_id // (((doc_id % 61 + 1) % 97) + 1)) % 65521 AS INT) AS m,
        |  CAST((doc_id % 37) * (doc_id % 37) + 2 * (doc_id % 37) * (doc_id % 23)
        |       + (doc_id % 23) * (doc_id % 23) AS BIGINT) AS p,
        |  CAST((doc_id % 90) * (doc_id % 45) + (doc_id % 20) AS BIGINT) AS f
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_wasm_rustc_binary" ->
      """SELECT doc_id,
        |  upper('rs ' || CAST(doc_id AS VARCHAR) || ' of ' || source) AS up
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_wasm_rustc_table" ->
      """SELECT doc_id, CAST(u.d AS INT) AS d
        |FROM documents,
        |     UNNEST(list_filter(range(1, (doc_id % 30 + 1) + 1),
        |                        x -> (doc_id % 30 + 1) % x = 0)) AS u(d)
        |ORDER BY doc_id, d""".stripMargin,
    "q_wasm_rustc_agg" ->
      """SELECT source, CAST(sum((doc_id % 40) * (doc_id % 40)) AS BIGINT) AS ss
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // documents.text is ASCII, so char counts replay the guest's byte counts
    "q_wasm_rustc_simd" ->
      """SELECT doc_id,
        |  CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS ne,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS nsp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the guest signals arithmetic panics by TRAPPING (the reference's
    // Rust-panic-in-wasm convention); the trap text is the interpreter's
    "q_wasm_rustc_err" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_suppkey % 7 = 0 THEN NULL
        |            ELSE CAST(CAST(l_partkey AS BIGINT) // CAST(l_suppkey % 7 AS BIGINT) AS BIGINT) END AS div_value,
        |       CASE WHEN l_suppkey % 7 = 0 THEN 'out of bounds memory access' END AS div_error
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_wasm_dispatch" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(CASE l_orderkey % 3
        |         WHEN 0 THEN CAST(l_quantity AS BIGINT) + l_linenumber
        |         WHEN 1 THEN CAST(l_quantity AS BIGINT) - l_linenumber
        |         ELSE CAST(l_quantity AS BIGINT) * l_linenumber END AS BIGINT) AS r
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_remote_map" ->
      """SELECT l_orderkey, l_linenumber,
        |       '{"rf":"' || l_returnflag || '","ls":"' || l_linestatus || '"}' AS mj
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_python_sum_udaf" ->
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_remote_decimal" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS dstr
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_js_gcd" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(gcd(CAST(l_partkey AS INT), CAST(l_suppkey AS INT)) AS INT) AS g
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_js_split" ->
      """SELECT doc_id, t.tok
        |FROM documents, UNNEST(string_split_regex(text, '[ \t\n\r\f\v]+')) AS t(tok)
        |WHERE t.tok <> ''
        |ORDER BY doc_id, tok""".stripMargin,
    "q_js_hash64" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST((CAST(l_orderkey AS HUGEINT) * 1099511627776 + 987654321)
        |            % 2305843009213693951 AS BIGINT) AS h
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_js_sum_udaf" ->
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_retract_sum" ->
      """SELECT l_linestatus AS key,
        |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0
        |                     ELSE CAST(l_quantity AS INT) END) AS BIGINT) AS result
        |FROM lineitem GROUP BY l_linestatus ORDER BY key""".stripMargin,
    "q_python_split" ->
      """SELECT doc_id, t.tok
        |FROM documents, UNNEST(string_split_regex(text, '[ \t\n\r\f\v]+')) AS t(tok)
        |WHERE t.tok <> ''
        |ORDER BY doc_id, tok""".stripMargin,
    "q_flight_gcd" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(gcd(CAST(l_partkey AS INT), CAST(l_suppkey AS INT)) AS INT) AS g
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_flight_len" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_flight_dict" ->
      """SELECT doc_id,
        |       CASE WHEN text IS NULL THEN NULL
        |            WHEN length(text) < 40 THEN 'short'
        |            WHEN length(text) < 120 THEN 'medium'
        |            ELSE 'long' END AS bucket
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_flight_dict_srv" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_flight_decimal" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |                 + CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS VARCHAR) AS dstr
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_flight_split" ->
      """SELECT doc_id, t.tok
        |FROM documents, UNNEST(string_split_regex(text, '[ \t\n\r\f\v]+')) AS t(tok)
        |WHERE t.tok <> ''
        |ORDER BY doc_id, tok""".stripMargin,
    "q_flight_div_error" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_suppkey % 7 = 0 THEN NULL
        |            ELSE CAST(CAST(l_partkey AS INT) // CAST(l_suppkey % 7 AS INT) AS INT) END AS div_value,
        |       CASE WHEN l_suppkey % 7 = 0 THEN 'division by zero' END AS div_error
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_flight_stream_gcd" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(gcd(CAST(l_partkey AS INT), CAST(l_suppkey AS INT)) AS INT) AS g
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_flight_stream_div_error" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_suppkey % 7 = 0 THEN NULL
        |            ELSE CAST(CAST(l_partkey AS INT) // CAST(l_suppkey % 7 AS INT) AS INT) END AS div_value,
        |       CASE WHEN l_suppkey % 7 = 0 THEN 'division by zero' END AS div_error
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_flight_setof" ->
      """SELECT l_orderkey, l_linenumber, CAST(t.x AS INT) AS value
        |FROM lineitem, UNNEST(range(l_linenumber)) AS t(x)
        |ORDER BY l_orderkey, l_linenumber, value""".stripMargin,
    "q_struct_of_all" ->
      """SELECT o_orderkey, (o_orderkey % 1000) % 2 = 0 AS b,
        |       CAST(o_orderkey % 1000 AS INT) AS i32,
        |       CAST((o_orderkey % 1000) * 1000 AS BIGINT) AS i64,
        |       CAST(ROUND((o_orderkey % 1000) / 7.0 * 10000) AS BIGINT) AS f4,
        |       'v' || CAST(o_orderkey % 1000 AS VARCHAR) AS s,
        |       DATE '1970-01-01' + CAST(o_orderkey % 1000 AS INT) AS d,
        |       TIMESTAMP '1970-01-01 00:00:00' + to_hours(CAST(o_orderkey % 1000 AS BIGINT)) AS ts,
        |       CAST(0 AS INT) AS z, CAST(NULL AS INT) AS nl,
        |       CAST(o_orderkey % 3 AS INT) AS rep
        |FROM orders, UNNEST([1, 2]) AS t(u)
        |ORDER BY o_orderkey""".stripMargin,
    "q_datetime" ->
      """SELECT o_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
        |         + to_microseconds((o_orderkey % 86400) * 1000000) AS ts
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_timestamptz" ->
      """SELECT o_orderkey, epoch_ms(o_orderdate) AS ms
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_interval" ->
      """SELECT o_orderkey,
        |       CAST(o_orderkey % 11 AS INT) AS months,
        |       CAST(o_orderkey % 27 AS INT) AS days,
        |       CAST((o_orderkey % 23) * 3600000000 AS BIGINT) AS micros
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_map_identity" ->
      """SELECT l_orderkey, l_linenumber,
        |       '{"rf":"' || l_returnflag || '","ls":"' || l_linestatus || '"}' AS mj
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id, CAST(len($duckWords) AS INT) AS n_tok,
         |       CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]')) AS INT) AS n_bpe
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang, list_sort([
        |    {'s': -len(list_filter(ts, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))), 'l': 'en'},
        |    {'s': -len(list_filter(ts, x -> x IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))), 'l': 'de'},
        |    {'s': -len(list_filter(ts, x -> x IN ('el','la','de','que','y','en','un','es','por','los'))), 'l': 'es'},
        |    {'s': -len(list_filter(ts, x -> x IN ('le','la','de','et','un','est','que','pour','dans','les'))), 'l': 'fr'},
        |    {'s': -len(list_filter(ts, x -> x IN ('的','是','不','了','在','有','我','他','这','中'))), 'l': 'zh'}
        |  ]) AS sorted FROM tok)
        |SELECT doc_id, lang,
        |       CASE WHEN struct_extract(sorted[1], 's') = 0 THEN 'und'
        |            ELSE struct_extract(sorted[1], 'l') END AS pred
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      """SELECT doc_id, CASE WHEN n_tok = 0 THEN 0.0 ELSE
        |  0.4 * (n_stop / CAST(n_tok AS DOUBLE))
        |  + 0.3 * least(n_tok / 100.0, 1.0)
        |  + 0.3 * (1.0 - n_punct / CAST(len_s AS DOUBLE)) END AS score
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok,
        |    len(list_filter(str_split_regex(lower(text), '\s+'),
        |        x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS n_stop,
        |    len(regexp_extract_all(text, '[^\p{L}\p{N}\s]')) AS n_punct,
        |    length(text) AS len_s
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id, ${duckMd5_60("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_word_ngrams" ->
      s"""SELECT doc_id, array_to_string(${duckShingles(2)}, '|') AS ngrams
         |FROM (SELECT doc_id, $duckWords AS ws FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "q_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    'https?://\S+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[+]?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS red
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_sentences" ->
      """SELECT doc_id, t.u AS sentence
        |FROM (SELECT doc_id,
        |        list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
        |          x -> trim(x, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12))), x -> x <> '') AS ss
        |      FROM documents),
        |     UNNEST(ss) AS t(u)
        |ORDER BY doc_id, sentence""".stripMargin,
    "q_chunks" ->
      """SELECT doc_id, CAST(t.pos AS INT) AS pos,
        |       substr(text, CAST(t.pos AS INT), 400) AS chunk
        |FROM (SELECT doc_id, text, generate_series(1, len(text), 300) AS ps
        |      FROM documents),
        |     UNNEST(ps) AS t(pos)
        |ORDER BY doc_id, pos""".stripMargin,
    "q_repetition" ->
      s"""SELECT doc_id,
         |  CAST(ROUND((CASE WHEN len(sh) = 0 THEN 0.0
         |    ELSE 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / CAST(len(sh) AS DOUBLE) END) * 10000) AS BIGINT) AS r4
         |FROM (SELECT doc_id, ${duckShingles(3)} AS sh
         |      FROM (SELECT doc_id, $duckWords AS ws FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles(8)} AS shingles FROM w),
         |bench AS (SELECT DISTINCT t.s FROM sh, UNNEST(shingles) AS t(s) WHERE doc_id % 5 = 0),
         |corp AS (SELECT doc_id, t.s AS s FROM sh, UNNEST(shingles) AS t(s) WHERE doc_id % 5 <> 0)
         |SELECT DISTINCT doc_id FROM corp WHERE s IN (SELECT s FROM bench)
         |ORDER BY doc_id""".stripMargin,
    "q_sentence_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, substr(text, 1, 200) AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |ss AS (SELECT doc_id,
        |    list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
        |      x -> trim(x, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12))), x -> x <> '') AS arr
        |  FROM corpus),
        |ex AS (SELECT doc_id, unnest(arr) AS sent, generate_subscripts(arr, 1) AS pos FROM ss),
        |win AS (SELECT doc_id, sent, pos,
        |          row_number() OVER (PARTITION BY sent ORDER BY doc_id, pos) AS rn FROM ex)
        |SELECT doc_id, string_agg(sent, ' ' ORDER BY pos) AS kept_text
        |FROM win WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_spans" ->
      s"""WITH ${duckSpanCtes("documents")}
        |SELECT doc_id, kept_text FROM sd ORDER BY doc_id""".stripMargin,
    "q_mixture_sample" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${duckMd5_60("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000
         |      < 200 + 37 * (CAST(substr(source, 4) AS INT) % 20)
         |ORDER BY doc_id""".stripMargin,
    "q_upsample" ->
      """SELECT doc_id, CAST(c.copy AS INT) AS copy, source
        |FROM documents,
        |     UNNEST(range(0, greatest(CAST(substring(source, 4) AS INT) % 4, 0))) AS c(copy)
        |ORDER BY doc_id, copy""".stripMargin,
    "q_pack_sequences" ->
      """WITH RECURSIVE d AS (
        |  SELECT source, doc_id,
        |         len(list_filter(str_split_regex(text, '\s+'), x -> x <> '')) AS n_tok,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |pack AS (
        |  SELECT source, doc_id, n_tok, rn, 0 AS bin, n_tok AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT r.source, r.doc_id, r.n_tok, r.rn,
        |         CASE WHEN p.fill + r.n_tok <= 512 THEN p.bin ELSE p.bin + 1 END,
        |         CASE WHEN p.fill + r.n_tok <= 512 THEN p.fill + r.n_tok ELSE r.n_tok END
        |  FROM pack p JOIN d r ON r.source = p.source AND r.rn = p.rn + 1)
        |SELECT source, doc_id, bin, fill FROM pack ORDER BY source, doc_id""".stripMargin,
    "q_curate_v3" ->
      s"""WITH $duckCurateCtes
         |SELECT s.doc_id, s.lang_pred, s.n_tok, l.bits_per_tok,
         |       $duckRedact AS clean_text
         |FROM scored s
         |JOIN rep r ON r.doc_id = s.doc_id
         |JOIN lm l ON l.doc_id = s.doc_id
         |JOIN documents d ON d.doc_id = s.doc_id
         |WHERE s.score >= 0.3 AND s.n_tok >= 20 AND s.lang_pred <> 'und' AND r.rr <= 0.5
         |  AND l.bits_per_tok <= 9
         |  AND s.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
         |ORDER BY s.doc_id""".stripMargin,
    "q_curate_v4" ->
      s"""WITH $duckCurateCtes,
         |${duckLogitCtes(classifierLabel, iters = 8)}
         |SELECT s.doc_id, s.lang_pred, s.n_tok, l.bits_per_tok, c.margin6,
         |       $duckRedact AS clean_text
         |FROM scored s
         |JOIN rep r ON r.doc_id = s.doc_id
         |JOIN lm l ON l.doc_id = s.doc_id
         |JOIN clf c ON c.doc_id = s.doc_id
         |JOIN documents d ON d.doc_id = s.doc_id
         |WHERE s.score >= 0.3 AND s.n_tok >= 20 AND s.lang_pred <> 'und' AND r.rr <= 0.5
         |  AND l.bits_per_tok <= 9
         |  AND c.pred
         |  AND s.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
         |ORDER BY s.doc_id""".stripMargin,
    "q_lm_score" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ts) AS t FROM w),
        |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
        |vocab AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 16),
        |surp AS (SELECT k.doc_id,
        |    length(bin((SELECT n FROM tot) // greatest(coalesce(v.c, 0), 1))) AS b
        |  FROM tok k LEFT JOIN vocab v USING (t)),
        |agg AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS bits FROM surp GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.ts) AS INT) AS n_tok,
        |       CAST(coalesce(a.bits, 0) AS BIGINT) AS surprisal,
        |       CAST(coalesce(a.bits, 0) // greatest(len(w.ts), 1) AS BIGINT) AS bits_per_tok
        |FROM w LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_gate_adaptive" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ts) AS t FROM w),
        |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
        |vocab AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 16),
        |surp AS (SELECT k.doc_id,
        |    length(bin((SELECT n FROM tot) // greatest(coalesce(v.c, 0), 1))) AS b
        |  FROM tok k LEFT JOIN vocab v USING (t)),
        |agg AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS bits FROM surp GROUP BY doc_id),
        |lmsc AS (SELECT w.doc_id,
        |    CAST(coalesce(a.bits, 0) // greatest(len(w.ts), 1) AS BIGINT) AS bits_per_tok
        |  FROM w LEFT JOIN agg a USING (doc_id)),
        |hist AS (SELECT bits_per_tok AS v, CAST(count(*) AS BIGINT) AS c FROM lmsc GROUP BY v),
        |nrows AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
        |thr AS (SELECT min(v) AS t FROM
        |  (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM hist) h, nrows
        |  WHERE h.cum >= (nrows.n * 30 + 99) // 100)
        |SELECT doc_id, bits_per_tok FROM lmsc, thr
        |WHERE bits_per_tok <= thr.t
        |ORDER BY doc_id""".stripMargin,
    // DEFLATE has no DuckDB replica: the oracle pins the engine-computed
    // invariant flags to 1 and cross-computes only the byte length — the
    // Spark side genuinely exercises deflate+inflate per row, so a broken
    // zlib path hash-fails this gate (ratio magnitudes are spec-gated)
    "q_compress" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS nbytes,
        |  CAST(1 AS BIGINT) AS rt_ok, CAST(1 AS BIGINT) AS ratio_ok,
        |  CAST(1 AS BIGINT) AS dup_le
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |stats AS (SELECT count(*) AS n,
        |    count(*) FILTER (WHERE list_contains(ts, 'dup')) AS df1,
        |    count(*) FILTER (WHERE list_contains(ts, 'spark')) AS df2,
        |    count(*) FILTER (WHERE list_contains(ts, 'scan')) AS df3
        |  FROM w),
        |idf AS (SELECT length(bin(n // greatest(df1, 1))) AS w1,
        |               length(bin(n // greatest(df2, 1))) AS w2,
        |               length(bin(n // greatest(df3, 1))) AS w3 FROM stats),
        |scored AS (SELECT doc_id,
        |    CAST(len(list_filter(ts, x -> x = 'dup')) * (SELECT w1 FROM idf)
        |       + len(list_filter(ts, x -> x = 'spark')) * (SELECT w2 FROM idf)
        |       + len(list_filter(ts, x -> x = 'scan')) * (SELECT w3 FROM idf) AS BIGINT) AS score
        |  FROM w)
        |SELECT doc_id, score FROM scored WHERE score > 0
        |ORDER BY score DESC, doc_id""".stripMargin,
    "q_bpe_encode" ->
      s"""WITH w AS (SELECT doc_id,
         |    list_filter(str_split_regex(lower(coalesce(text,'')), '\\s+'), x -> x <> '') AS ws
         |  FROM documents),
         |enc AS (SELECT doc_id, list_transform(ws, wx -> ${duckBpe(bpeFixedMerges)}) AS es FROM w)
         |SELECT doc_id,
         |  array_to_string(list_transform(es,
         |    e -> replace(replace(replace(e, chr(2)||chr(1), '|'), chr(1), ''), chr(2), '')), '|') AS toks,
         |  CAST(coalesce(list_sum(list_transform(es,
         |    e -> len(e) - len(replace(e, chr(1), '')))), 0) AS INT) AS n_tok
         |FROM enc ORDER BY doc_id""".stripMargin,
    "q_bpe_train" -> duckBpeTrain(16),
    "q_bpe_roundtrip" ->
      """SELECT doc_id,
        |  replace(replace(
        |    array_to_string(list_filter(str_split_regex(lower(coalesce(text,'')), '\s+'), x -> x <> ''), ''),
        |    chr(1), ''), chr(2), '') AS glued
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality_classifier" -> duckLogit(classifierLabel, iters = 8),
    "q_dedup_increment" ->
      s"""WITH $duckMinhashCtes,
         |inc AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
         |cor AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
         |iexact AS (SELECT di.doc_id AS iid, min(dc.doc_id) AS exact_dup
         |           FROM documents di JOIN inc i2 ON i2.doc_id = di.doc_id
         |           JOIN documents dc ON dc.text = di.text
         |           JOIN cor c2 ON c2.doc_id = dc.doc_id
         |           GROUP BY di.doc_id),
         |icand AS (SELECT DISTINCT bi.doc_id AS iid, bc.doc_id AS cid
         |          FROM band bi JOIN band bc USING (b, bh)
         |          JOIN inc ON inc.doc_id = bi.doc_id
         |          JOIN cor ON cor.doc_id = bc.doc_id),
         |inear AS (SELECT iid, min(cid) AS near_dup FROM (
         |            SELECT icand.iid, icand.cid,
         |              len(list_filter([si.sig[j+1] = sc.sig[j+1] for j in range(16)], x -> x)) AS nm
         |            FROM icand JOIN sig si ON si.doc_id = icand.iid
         |                       JOIN sig sc ON sc.doc_id = icand.cid) t
         |          WHERE nm >= 8 GROUP BY iid)
         |SELECT i.doc_id, coalesce(e.exact_dup, n.near_dup) AS dup_of,
         |       CASE WHEN e.exact_dup IS NOT NULL THEN 'exact'
         |            WHEN n.near_dup IS NOT NULL THEN 'near' END AS kind
         |FROM inc i LEFT JOIN iexact e ON e.iid = i.doc_id
         |LEFT JOIN inear n ON n.iid = i.doc_id
         |ORDER BY i.doc_id""".stripMargin,
    "q_dedup_increment_exact" ->
      """SELECT i.doc_id + 1000000 AS doc_id,
        |       min(c.doc_id) AS dup_of, 'exact' AS kind
        |FROM documents i JOIN documents c ON c.text = i.text
        |WHERE i.doc_id < 50
        |GROUP BY i.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(nfc_normalize(lower('  ' || upper(text) || chr(9) || 'X ' || chr(10) || ' ')), '[\t\n\v\f\r ]+', ' ', 'g')) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_pack_bpe" ->
      s"""WITH RECURSIVE w0 AS (SELECT source, doc_id,
         |    list_filter(str_split_regex(lower(coalesce(text,'')), '\\s+'), x -> x <> '') AS ws
         |  FROM documents),
         |d AS (SELECT source, doc_id,
         |    CAST(coalesce(list_sum(list_transform(list_transform(ws, wx -> ${duckBpe(bpeFixedMerges)}),
         |      e -> len(e) - len(replace(e, chr(1), '')))), 0) AS INT) AS n_tok,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM w0),
         |pack AS (
         |  SELECT source, doc_id, n_tok, rn, 0 AS bin, n_tok AS fill
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT r.source, r.doc_id, r.n_tok, r.rn,
         |         CASE WHEN p.fill + r.n_tok <= 1024 THEN p.bin ELSE p.bin + 1 END,
         |         CASE WHEN p.fill + r.n_tok <= 1024 THEN p.fill + r.n_tok ELSE r.n_tok END
         |  FROM pack p JOIN d r ON r.source = p.source AND r.rn = p.rn + 1)
         |SELECT source, doc_id, bin, fill FROM pack ORDER BY source, doc_id""".stripMargin,
    "q_curate_corpus" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(str_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts,
         |         $duckWords AS rawts,
         |         len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]')) AS n_punct,
         |         length(text) AS len_s
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, len(rawts) AS n_tok,
         |    len(list_filter(ts, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS n_stop,
         |    n_punct, len_s,
         |    list_sort([
         |      {'s': -len(list_filter(ts, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))), 'l': 'en'},
         |      {'s': -len(list_filter(ts, x -> x IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))), 'l': 'de'},
         |      {'s': -len(list_filter(ts, x -> x IN ('el','la','de','que','y','en','un','es','por','los'))), 'l': 'es'},
         |      {'s': -len(list_filter(ts, x -> x IN ('le','la','de','et','un','est','que','pour','dans','les'))), 'l': 'fr'},
         |      {'s': -len(list_filter(ts, x -> x IN ('的','是','不','了','在','有','我','他','这','中'))), 'l': 'zh'}
         |    ]) AS sorted
         |  FROM tok),
         |scored AS (
         |  SELECT doc_id,
         |    CASE WHEN struct_extract(sorted[1], 's') = 0 THEN 'und'
         |         ELSE struct_extract(sorted[1], 'l') END AS lang_pred,
         |    CASE WHEN n_tok = 0 THEN 0.0 ELSE
         |      0.4 * (n_stop / CAST(n_tok AS DOUBLE))
         |      + 0.3 * least(n_tok / 100.0, 1.0)
         |      + 0.3 * (1.0 - n_punct / CAST(len_s AS DOUBLE)) END AS score,
         |    CAST(n_tok AS INT) AS n_tok
         |  FROM m)
         |SELECT s.doc_id, s.lang_pred, s.score, s.n_tok
         |FROM scored s
         |WHERE s.score >= 0.3 AND s.n_tok >= 20 AND s.lang_pred <> 'und'
         |  AND s.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
         |ORDER BY s.doc_id""".stripMargin,
    "q_split_bucket" ->
      s"""SELECT doc_id, CAST(b AS INT) AS bucket,
         |       CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${duckMd5_60("'v1:' || CAST(doc_id AS VARCHAR)")} % 10 AS b
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q_curate_v2" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(str_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts,
         |         len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]')) AS n_punct,
         |         length(text) AS len_s
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, len(ts) AS n_tok,
         |    len(list_filter(ts, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS n_stop,
         |    n_punct, len_s,
         |    list_sort([
         |      {'s': -len(list_filter(ts, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))), 'l': 'en'},
         |      {'s': -len(list_filter(ts, x -> x IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))), 'l': 'de'},
         |      {'s': -len(list_filter(ts, x -> x IN ('el','la','de','que','y','en','un','es','por','los'))), 'l': 'es'},
         |      {'s': -len(list_filter(ts, x -> x IN ('le','la','de','et','un','est','que','pour','dans','les'))), 'l': 'fr'},
         |      {'s': -len(list_filter(ts, x -> x IN ('的','是','不','了','在','有','我','他','这','中'))), 'l': 'zh'}
         |    ]) AS sorted
         |  FROM tok),
         |scored AS (
         |  SELECT doc_id,
         |    CASE WHEN struct_extract(sorted[1], 's') = 0 THEN 'und'
         |         ELSE struct_extract(sorted[1], 'l') END AS lang_pred,
         |    CASE WHEN n_tok = 0 THEN 0.0 ELSE
         |      0.4 * (n_stop / CAST(n_tok AS DOUBLE))
         |      + 0.3 * least(n_tok / 100.0, 1.0)
         |      + 0.3 * (1.0 - n_punct / CAST(len_s AS DOUBLE)) END AS score,
         |    CAST(n_tok AS INT) AS n_tok
         |  FROM m),
         |rep AS (
         |  SELECT doc_id, CASE WHEN len(sh) = 0 THEN 0.0
         |    ELSE 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / CAST(len(sh) AS DOUBLE) END AS rr
         |  FROM (SELECT doc_id, ${duckShingles(3)} AS sh
         |        FROM (SELECT doc_id, $duckWords AS ws FROM documents)))
         |SELECT s.doc_id, s.lang_pred,
         |       CAST(ROUND(s.score * 10000) AS BIGINT) AS score4, s.n_tok,
         |       CAST(ROUND(r.rr * 10000) AS BIGINT) AS rep4,
         |       regexp_replace(regexp_replace(regexp_replace(d.text,
         |         'https?://\\S+', '<URL>', 'g'),
         |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
         |         '[+]?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g') AS clean_text
         |FROM scored s
         |JOIN rep r ON r.doc_id = s.doc_id
         |JOIN documents d ON d.doc_id = s.doc_id
         |WHERE s.score >= 0.3 AND s.n_tok >= 20 AND s.lang_pred <> 'und' AND r.rr <= 0.5
         |  AND s.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
         |ORDER BY s.doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin,
    "q_minhash_sig" ->
      s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles(3)} AS shingles FROM w),
         |hs AS (SELECT doc_id, [${duckMd5_60("s2")} % 1073741789 for s2 in shingles] AS bases FROM sh)
         |SELECT doc_id, array_to_string([coalesce(list_min([
         |    ((${duckMd5_60("CAST(seed AS VARCHAR) || 'a'")} % 1073741789) * h
         |     + (${duckMd5_60("CAST(seed AS VARCHAR) || 'b'")} % 1073741789)) % 1073741789
         |  for h in bases]), 0) for seed in range(8)], ',') AS sig
         |FROM hs ORDER BY doc_id""".stripMargin,
    "q_minhash_pairs" ->
      s"""WITH $duckMinhashCtes
         |SELECT id_a, id_b, CAST(ROUND(CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) * 10000) AS BIGINT) AS j4
         |FROM jac WHERE CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,
    "q_split_leakage" ->
      s"""WITH $duckMinhashCtes,
         |sp AS (SELECT doc_id,
         |         CASE WHEN ${duckMd5_60("'v1:' || CAST(doc_id AS VARCHAR)")} % 10 < 8 THEN 'train'
         |              WHEN ${duckMd5_60("'v1:' || CAST(doc_id AS VARCHAR)")} % 10 = 8 THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM documents),
         |lk AS (SELECT id_a, id_b,
         |         CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) AS jac
         |       FROM jac
         |       WHERE CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) >= 0.3)
         |SELECT l.id_a, l.id_b, a.split AS split_a, b.split AS split_b,
         |       CAST(ROUND(jac * 10000) AS BIGINT) AS j4
         |FROM lk l JOIN sp a ON l.id_a = a.doc_id JOIN sp b ON l.id_b = b.doc_id
         |WHERE a.split <> b.split
         |ORDER BY id_a, id_b""".stripMargin,
    "q_near_dedup" ->
      s"""WITH RECURSIVE $duckMinhashCtes,
         |$duckNearDupCcCtes
         |SELECT d.doc_id, d.n_chars FROM documents d JOIN surv USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q_simhash" -> (duckSimhash + "\nORDER BY doc_id"),
    "q_simhash_pairs" ->
      s"""WITH s AS ($duckSimhash),
         |b AS (SELECT doc_id, sig, t.u['b'] AS blk, t.u['k'] AS key
         |      FROM s, UNNEST([
         |        {'b': 0, 'k': sig & 32767},
         |        {'b': 1, 'k': (sig >> 15) & 32767},
         |        {'b': 2, 'k': (sig >> 30) & 32767},
         |        {'b': 3, 'k': (sig >> 45) & 32767}]) AS t(u)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, a.sig AS sa, c.sig AS sb
         |         FROM b a JOIN b c ON a.blk = c.blk AND a.key = c.key AND a.doc_id < c.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS dist
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "q_hamming" ->
      s"""WITH s AS ($duckSimhash)
         |SELECT a.doc_id AS id_a, CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS d
         |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
         |ORDER BY id_a""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |sh AS (SELECT doc_id, list_distinct(${duckShingles(2)}) AS s FROM w)
         |SELECT a.doc_id AS id_a,
         |       CAST(ROUND(CASE WHEN len(a.s) = 0 AND len(b.s) = 0 THEN 1.0
         |         ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |            / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) END * 10000) AS BIGINT) AS j4
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         |ORDER BY id_a""".stripMargin,

    "q_cosine" ->
      s"""SELECT a.vec_id AS id_a,
         |       CAST(ROUND(${duckCos("a.embedding", "b.embedding")} * 10000) AS BIGINT) AS c4
         |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
         |ORDER BY id_a""".stripMargin,
    "q_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.q_id, e.vec_id, ${duckCos("q.qe", "e.embedding")} AS sim
         |      FROM q, embeddings e),
         |r AS (SELECT q_id, vec_id, sim,
         |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
         |      FROM s)
         |SELECT q_id, vec_id, rank, CAST(ROUND(sim * 10000) AS BIGINT) AS c4
         |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q_quantized_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |z AS (SELECT vec_id,
         |        CAST(CAST(list_max([abs(embedding[i]) for i in range(1, 65)]) AS DOUBLE)
         |             / 127.0 AS FLOAT) AS q_scale,
         |        embedding
         |      FROM embeddings),
         |d AS (SELECT vec_id,
         |        [CASE WHEN q_scale = CAST(0 AS FLOAT) THEN 0
         |              ELSE CAST(GREATEST(-127, LEAST(127,
         |                ROUND(CAST(embedding[i] AS DOUBLE) / CAST(q_scale AS DOUBLE)))) AS INT) END
         |         for i in range(1, 65)] AS de
         |      FROM z),
         |s AS (SELECT q.q_id, d.vec_id, ${duckCos("d.de", "q.qe")} AS sim
         |      FROM q, d),
         |r AS (SELECT q_id, vec_id, sim,
         |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
         |      FROM s)
         |SELECT q_id, vec_id, rank, CAST(ROUND(sim * 10000) AS BIGINT) AS c4
         |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    // identical to the q_ann_topk oracle: full-probe IVF is exact by design
    "q_pq_topk" -> duckPqTopK,
    "q_pq_rerank" -> duckPqRerank,
    // full-probe IVFPQ ≡ PQ over the whole corpus: same oracle
    "q_ivfpq_topk" -> duckPqTopK,
    "q_ivf_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.q_id, e.vec_id, ${duckCos("q.qe", "e.embedding")} AS sim
         |      FROM q, embeddings e),
         |r AS (SELECT q_id, vec_id, sim,
         |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
         |      FROM s)
         |SELECT q_id, vec_id, rank, CAST(ROUND(sim * 10000) AS BIGINT) AS c4
         |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    // identical oracle again: the saved-index search at full probe is exact
    "q_ivf_saved" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.q_id, e.vec_id, ${duckCos("q.qe", "e.embedding")} AS sim
         |      FROM q, embeddings e),
         |r AS (SELECT q_id, vec_id, sim,
         |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
         |      FROM s)
         |SELECT q_id, vec_id, rank, CAST(ROUND(sim * 10000) AS BIGINT) AS c4
         |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q_ivf_append" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.q_id, e.vec_id, ${duckCos("q.qe", "e.embedding")} AS sim
         |      FROM q, embeddings e),
         |r AS (SELECT q_id, vec_id, sim,
         |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
         |      FROM s)
         |SELECT q_id, vec_id, rank, CAST(ROUND(sim * 10000) AS BIGINT) AS c4
         |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q_lsh_bucket" ->
      s"""SELECT vec_id, CAST(list_sum([CASE WHEN
         |  list_reduce([CAST(embedding[i] AS DOUBLE) *
         |    (${duckMd5_60("CAST(p * 10007 + (i - 1) AS VARCHAR) || 'hp'")} / 5.764607523034235e17 - 1.0)
         |    for i in range(1, 65)], (x, y) -> x + y) >= 0
         |  THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END for p in range(6)]) AS BIGINT) AS bucket
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_lsh_topk" ->
      s"""WITH b AS (SELECT vec_id, embedding,
         |  CAST(list_sum([CASE WHEN
         |    list_reduce([CAST(embedding[i] AS DOUBLE) *
         |      (${duckMd5_60("CAST(p * 10007 + (i - 1) AS VARCHAR) || 'hp'")} / 5.764607523034235e17 - 1.0)
         |      for i in range(1, 65)], (x, y) -> x + y) >= 0
         |    THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END for p in range(6)]) AS BIGINT) AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket FROM b WHERE vec_id < 5),
         |s AS (SELECT q.q_id, b.vec_id, ${duckCos("q.qe", "b.embedding")} AS sim
         |      FROM q JOIN b USING (bucket)),
         |r AS (SELECT q_id, vec_id, sim,
         |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
         |      FROM s)
         |SELECT q_id, vec_id, rank, CAST(ROUND(sim * 10000) AS BIGINT) AS c4
         |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // same bucket replica; the left side probes its own bucket plus the 6
    // single-bit-flip neighbors (xor), candidates from the bucket equi-join
    "q_ann_join" ->
      s"""WITH b AS (SELECT vec_id, embedding,
         |  CAST(list_sum([CASE WHEN
         |    list_reduce([CAST(embedding[i] AS DOUBLE) *
         |      (${duckMd5_60("CAST(p * 10007 + (i - 1) AS VARCHAR) || 'hp'")} / 5.764607523034235e17 - 1.0)
         |      for i in range(1, 65)], (x, y) -> x + y) >= 0
         |    THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END for p in range(6)]) AS BIGINT) AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket AS b0 FROM b
         |      WHERE vec_id % 10 = 0),
         |pr AS (SELECT q_id, qe,
         |         unnest([xor(b0, CAST(1 AS BIGINT) << p) for p in range(6)] || [b0]) AS bucket
         |       FROM q),
         |s AS (SELECT pr.q_id, b.vec_id, ${duckCos("pr.qe", "b.embedding")} AS sim
         |      FROM pr JOIN b USING (bucket)),
         |r AS (SELECT q_id, vec_id, sim,
         |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
         |      FROM s)
         |SELECT q_id, vec_id, rank, CAST(ROUND(sim * 10000) AS BIGINT) AS c4
         |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    // table-seeded buckets (seed row t·1000003+p of the same md5 stream),
    // candidates = union over 3 tables of the (t, bucket) equi-join, pair
    // dedup via SELECT DISTINCT on the deterministic scored triple
    "q_ann_multitable" ->
      s"""WITH tt AS (SELECT unnest(range(3)) AS t),
         |b AS (SELECT e.vec_id, e.embedding, tt.t,
         |  CAST(list_sum([CASE WHEN
         |    list_reduce([CAST(e.embedding[i] AS DOUBLE) *
         |      (${duckMd5_60("CAST((CAST(tt.t AS BIGINT) * 1000003 + p) * 10007 + (i - 1) AS VARCHAR) || 'hp'")} / 5.764607523034235e17 - 1.0)
         |      for i in range(1, 65)], (x, y) -> x + y) >= 0
         |    THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END for p in range(6)]) AS BIGINT) AS bucket
         |  FROM embeddings e, tt),
         |q AS (SELECT vec_id AS q_id, embedding AS qe, t, bucket FROM b
         |      WHERE vec_id % 10 = 0),
         |s AS (SELECT DISTINCT q.q_id, b.vec_id, ${duckCos("q.qe", "b.embedding")} AS sim
         |      FROM q JOIN b ON q.t = b.t AND q.bucket = b.bucket),
         |r AS (SELECT q_id, vec_id, sim,
         |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank
         |      FROM s)
         |SELECT q_id, vec_id, rank, CAST(ROUND(sim * 10000) AS BIGINT) AS c4
         |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "q_semantic_decontaminate" ->
      s"""WITH bench AS (SELECT vec_id AS near_id, embedding AS be
         |  FROM embeddings WHERE vec_id < 50),
         |corpus AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 50
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |         [CASE WHEN i = 1 THEN CAST(embedding[i] + CAST(0.25 AS DOUBLE) AS FLOAT)
         |               ELSE embedding[i] END for i in range(1, 65)] AS embedding
         |  FROM embeddings WHERE vec_id < 50),
         |p AS (SELECT c.vec_id, b.near_id, ${duckCos("c.embedding", "b.be")} AS sim
         |      FROM corpus c, bench b),
         |hits AS (SELECT vec_id, near_id, sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY near_id) AS rn
         |  FROM p WHERE sim >= 0.9)
         |SELECT vec_id, near_id, CAST(ROUND(sim * 10000) AS BIGINT) AS sim4
         |FROM hits WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q_semantic_dedup" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |         [CASE WHEN i = 1 THEN CAST(embedding[i] + CAST(0.25 AS DOUBLE) AS FLOAT)
         |               ELSE embedding[i] END for i in range(1, 65)] AS embedding
         |  FROM embeddings WHERE vec_id < 50),
         |b AS (SELECT vec_id, embedding,
         |  CAST(list_sum([CASE WHEN
         |    list_reduce([CAST(embedding[i] AS DOUBLE) *
         |      (${duckMd5_60("CAST(p * 10007 + (i - 1) AS VARCHAR) || 'hp'")} / 5.764607523034235e17 - 1.0)
         |      for i in range(1, 65)], (x, y) -> x + y) >= 0
         |    THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END for p in range(8)]) AS BIGINT) AS bucket
         |  FROM corpus),
         |p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         |        ${duckCos("a.embedding", "b2.embedding")} AS sim
         |      FROM b a JOIN b b2 USING (bucket) WHERE a.vec_id < b2.vec_id),
         |d AS (SELECT id_b AS vec_id, CAST(min(id_a) AS BIGINT) AS dup_of
         |      FROM p WHERE sim >= 0.9 GROUP BY id_b)
         |SELECT c.vec_id, d.dup_of FROM corpus c LEFT JOIN d USING (vec_id)
         |ORDER BY c.vec_id""".stripMargin,
    "q_embed_neardup" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |         [CASE WHEN i = 1 THEN CAST(embedding[i] + CAST(0.25 AS DOUBLE) AS FLOAT)
         |               ELSE embedding[i] END for i in range(1, 65)] AS embedding
         |  FROM embeddings WHERE vec_id < 50),
         |b AS (SELECT vec_id, embedding,
         |  CAST(list_sum([CASE WHEN
         |    list_reduce([CAST(embedding[i] AS DOUBLE) *
         |      (${duckMd5_60("CAST(p * 10007 + (i - 1) AS VARCHAR) || 'hp'")} / 5.764607523034235e17 - 1.0)
         |      for i in range(1, 65)], (x, y) -> x + y) >= 0
         |    THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END for p in range(8)]) AS BIGINT) AS bucket
         |  FROM corpus),
         |p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         |        ${duckCos("a.embedding", "b2.embedding")} AS sim
         |      FROM b a JOIN b b2 USING (bucket) WHERE a.vec_id < b2.vec_id)
         |SELECT id_a, id_b, CAST(ROUND(sim * 10000) AS BIGINT) AS c4
         |FROM p WHERE sim >= 0.9 ORDER BY id_a, id_b""".stripMargin,
    "q_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, ord FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) * 1000000 + o_orderkey AS ord,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT) * 1000000 + o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, ord""".stripMargin,
    "q_sessionize" ->
      """SELECT user_id, event_id,
        |       CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t_ms, event_id) AS BIGINT) AS session_id
        |FROM (
        |  SELECT user_id, event_id, t_ms,
        |         CASE WHEN lag(t_ms, 1) OVER (PARTITION BY user_id ORDER BY t_ms, event_id) IS NULL
        |                   OR t_ms - lag(t_ms, 1) OVER (PARTITION BY user_id ORDER BY t_ms, event_id) > 1800000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS t_ms FROM events))
        |ORDER BY user_id, event_id""".stripMargin,
    "q_arrow_roundtrip" ->
      """SELECT vec_id, CAST(ROUND(embedding[1] * 10000) AS BIGINT) AS e0
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // Multimodal oracles replay the PLANTED arithmetic — the Spark side
    // genuinely encodes and decodes real PNG/WAV bytes (javax.imageio /
    // javax.sound), so any codec defect breaks the hash match.
    "q_image_meta" ->
      """SELECT doc_id, CAST(8 + doc_id % 97 AS INT) AS width,
        |       CAST(8 + (doc_id * 7) % 89 AS INT) AS height, 'png' AS format
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_extract_features" ->
      """SELECT doc_id, CAST(8 + doc_id % 97 AS INT) AS width,
        |       CAST(8 + (doc_id * 7) % 89 AS INT) AS height, 'png' AS format
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_resize" ->
      """SELECT doc_id, CAST(rw AS INT) AS rw, CAST(rh AS INT) AS rh,
        |       CAST(r * rw * rh AS BIGINT) AS rsum_r
        |FROM (SELECT doc_id, r,
        |        CASE WHEN w <= 64 AND h <= 64 THEN w WHEN w >= h THEN 64 ELSE greatest(1, (w * 64) // h) END AS rw,
        |        CASE WHEN w <= 64 AND h <= 64 THEN h WHEN w >= h THEN greatest(1, (h * 64) // w) ELSE 64 END AS rh
        |      FROM (SELECT doc_id, 8 + doc_id % 97 AS w, 8 + (doc_id * 7) % 89 AS h,
        |              doc_id % 251 AS r FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "q_pixel_stats" ->
      """SELECT doc_id,
        |  CAST((ra * (w // 2) + rb * (w - w // 2)) * h AS BIGINT) AS sum_r,
        |  CAST((ga * (w // 2) + gb * (w - w // 2)) * h AS BIGINT) AS sum_g,
        |  CAST((ba * (w // 2) + bb * (w - w // 2)) * h AS BIGINT) AS sum_b,
        |  CAST(least(ra, rb) AS INT) AS min_r, CAST(greatest(ra, rb) AS INT) AS max_r
        |FROM (SELECT doc_id, 8 + doc_id % 97 AS w, 8 + (doc_id * 7) % 89 AS h,
        |        doc_id % 251 AS ra, (doc_id * 3) % 241 AS ga, (doc_id * 7) % 239 AS ba,
        |        doc_id % 127 AS rb, (doc_id * 5) % 131 AS gb, (doc_id * 11) % 137 AS bb
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_frame_sample" ->
      """SELECT doc_id, CAST(t.u AS BIGINT) AS frame_ms
        |FROM (SELECT doc_id, 1000 * (1 + doc_id % 53) AS dur FROM documents),
        |     UNNEST(range(0, dur, 7000)) AS t(u)
        |ORDER BY doc_id, frame_ms""".stripMargin,
    // the wav_synth ramp v_i = ((i % 2048) - 1024)·16 replayed sample by
    // sample: count, max |v|, Σv² must match the real PCM decode exactly
    "q_audio_stats" ->
      """SELECT doc_id, CAST(n AS BIGINT) AS n, CAST(peak AS INT) AS peak,
        |       CAST(sum_sq AS BIGINT) AS sum_sq
        |FROM (SELECT doc_id, count(*) AS n, max(abs(v)) AS peak,
        |        sum(CAST(v AS BIGINT) * v) AS sum_sq
        |      FROM (SELECT doc_id, ((t.u % 2048) - 1024) * 16 AS v
        |            FROM (SELECT doc_id, 1000 * (1 + doc_id % 53) AS ns
        |                  FROM documents),
        |                 UNNEST(range(0, ns, 1)) AS t(u))
        |      GROUP BY doc_id)
        |ORDER BY doc_id""".stripMargin,
    // three depth-specific ramps replayed: u8 centers to (u%256)-128, s16
    // is ((u%2048)-1024)*16, s24 is ((u%2048)-1024)*4096
    "q_audio_depths" ->
      """SELECT doc_id, CAST(n AS BIGINT) AS n, CAST(peak AS INT) AS peak,
        |       CAST(sum_sq AS BIGINT) AS sum_sq
        |FROM (SELECT doc_id, count(*) AS n, max(abs(v)) AS peak,
        |        sum(CAST(v AS BIGINT) * v) AS sum_sq
        |      FROM (SELECT doc_id,
        |              CASE doc_id % 3
        |                WHEN 0 THEN (t.u % 256) - 128
        |                WHEN 1 THEN ((t.u % 2048) - 1024) * 16
        |                ELSE ((t.u % 2048) - 1024) * 4096 END AS v
        |            FROM (SELECT doc_id, 500 * (1 + doc_id % 23) AS ns
        |                  FROM documents),
        |                 UNNEST(range(0, ns, 1)) AS t(u))
        |      GROUP BY doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_cents,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_cents,
        |       CAST(sum(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |       count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT o.o_orderkey, c.c_mktsegment,
        |       CAST(sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderkey, c.c_mktsegment
        |ORDER BY o.o_orderkey""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n.n_name,
        |       CAST(sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM region r
        |JOIN nation n ON n.n_regionkey = r.r_regionkey
        |JOIN supplier s ON s.s_nationkey = n.n_nationkey
        |JOIN lineitem l ON l.l_suppkey = s.s_suppkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey AND c.c_nationkey = s.s_nationkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    "q2_min_cost" ->
      """SELECT p.p_partkey, l.l_suppkey,
        |       CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS price_cents
        |FROM part p
        |JOIN lineitem l ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'EUROPE' AND p.p_partkey % 10 = 0
        |  AND l.l_extendedprice = (
        |    SELECT min(l2.l_extendedprice) FROM lineitem l2
        |    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        |    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        |    WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY p.p_partkey, l.l_suppkey""".stripMargin,
    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l.l_shipdate) AS INT) AS l_year,
        |       CAST(sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |WHERE n1.n_name IN ('NATION_3', 'NATION_7') AND n2.n_name IN ('NATION_3', 'NATION_7')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn,
        |       CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
        |FROM orders ORDER BY o_custkey, rn""".stripMargin,
    "q_udaf_window" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(sum(CAST(l_quantity AS INT))
        |         OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_q
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice""".stripMargin,
    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS prev_cents,
        |  lead(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS next_cents,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  CAST(ROUND(percent_rank() OVER w * 10000) AS BIGINT) AS pr4
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
        |       CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS s,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY rf, ls, gid""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
        |       CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS s,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls, gid""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
        |       CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS s,
        |       count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls, gid""".stripMargin,
    "q17_small_quantity" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#13'
        |  AND CAST(ROUND(l.l_quantity * 100) AS BIGINT)
        |      * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey) * 5
        |    < (SELECT CAST(sum(CAST(ROUND(l3.l_quantity * 100) AS BIGINT)) AS BIGINT)
        |       FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |      FROM customer c LEFT OUTER JOIN orders o
        |        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |      GROUP BY c.c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q20_nested_exists" ->
      """SELECT s.s_suppkey, s.s_name
        |FROM supplier s
        |WHERE s.s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name LIKE 'NATION_1%')
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_suppkey = s.s_suppkey
        |      AND CAST(ROUND(l.l_quantity * 100) AS BIGINT)
        |          * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey) * 5
        |        > (SELECT CAST(sum(CAST(ROUND(l3.l_quantity * 100) AS BIGINT)) AS BIGINT) * 4
        |           FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey))
        |ORDER BY s.s_suppkey""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q6_revenue" ->
      """SELECT CAST(sum(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.08 AND l_quantity < 24""".stripMargin,
    "q10_returned" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |       CAST(sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, n.n_name
        |ORDER BY rev_cents DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo" ->
      """SELECT CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
        |                     THEN CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)
        |                     ELSE 0 END) AS BIGINT) AS promo_cents,
        |       CAST(sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00'""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |       CAST(sum(CASE WHEN n1.n_name = 'NATION_5'
        |                     THEN CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)
        |                     ELSE 0 END) AS BIGINT) AS nation_cents,
        |       CAST(sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS region_cents
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = n2.n_regionkey
        |WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
        |GROUP BY year(o.o_orderdate) ORDER BY o_year""".stripMargin,
    "q9_profit" ->
      """SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |       CAST(sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 10000) AS BIGINT)
        |                - CAST(ROUND(p.p_retailprice * 100) AS BIGINT)
        |                  * CAST(ROUND(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS profit_e4
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY n.n_name, year(o.o_orderdate)
        |ORDER BY nation, o_year DESC""".stripMargin,
    "q11_important_value" ->
      """SELECT l.l_partkey,
        |       CAST(sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE n.n_name IN ('NATION_15', 'NATION_19')
        |GROUP BY l.l_partkey
        |HAVING sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) * 800
        |     > (SELECT sum(CAST(ROUND(l2.l_extendedprice * (1.0 - l2.l_discount) * 100) AS BIGINT))
        |        FROM lineitem l2
        |        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        |        WHERE n2.n_name IN ('NATION_15', 'NATION_19'))
        |ORDER BY value_cents DESC, l_partkey""".stripMargin,
    "q12_ship_priority" ->
      """SELECT CASE WHEN l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
        |            THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
        |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY ship_bucket""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         CAST(sum(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_rev_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1995-07-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_rev_cents
        |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        |WHERE r.total_rev_cents = (SELECT max(total_rev_cents) FROM revenue)
        |ORDER BY s.s_suppkey""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
        |       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#13' AND p.p_type NOT LIKE 'PROMO%'
        |  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_nationkey IN (0, 1, 2))
        |GROUP BY p.p_brand, p.p_type, p.p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q18_large_orders" ->
      """SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |       CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_cents,
        |       CAST(sum(CAST(ROUND(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 25000)
        |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
        |ORDER BY total_cents DESC, o_orderkey LIMIT 100""".stripMargin,
    "q19_discounted" ->
      """SELECT CAST(sum(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity >= 1 AND l.l_quantity <= 20)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
        |       AND l.l_quantity >= 10 AND l.l_quantity <= 30)
        |   OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 1 AND 35
        |       AND l.l_quantity >= 20 AND l.l_quantity <= 40)""".stripMargin,
    "q21_waiting" ->
      """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q22_idle_wealthy" ->
      """SELECT c.c_nationkey AS cntrycode, CAST(count(*) AS BIGINT) AS numcust,
        |       CAST(sum(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_cents
        |FROM customer c
        |WHERE c.c_nationkey IN (1, 3, 5, 7, 9)
        |  AND CAST(ROUND(c.c_acctbal * 100) AS BIGINT)
        |      * (SELECT count(*) FROM customer c2
        |         WHERE c2.c_acctbal > 0 AND c2.c_nationkey IN (1, 3, 5, 7, 9))
        |    > (SELECT sum(CAST(ROUND(c3.c_acctbal * 100) AS BIGINT)) FROM customer c3
        |       WHERE c3.c_acctbal > 0 AND c3.c_nationkey IN (1, 3, 5, 7, 9))
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY c.c_nationkey ORDER BY cntrycode""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_setops" ->
      """SELECT 'both' AS tag, k FROM
        |  (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey AS k FROM orders)
        |UNION ALL
        |SELECT 'cust_only' AS tag, k FROM
        |  (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey AS k FROM orders)
        |ORDER BY tag, k""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, event_type, CAST(NULLIF(regexp_extract(props, '"k": *([0-9]+)', 1), '') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_tumbling_window" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS ws, event_type, count(*) AS cnt,
        |       CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS val_cents
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "q_sliding_window" ->
      """SELECT t.ws AS ws, event_type, count(*) AS cnt,
        |       CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS val_cents
        |FROM (SELECT epoch_ns(ts) // 1000000 AS ms, event_type, value FROM events),
        |     UNNEST([ms - (ms % 1800000), ms - (ms % 1800000) - 1800000]) AS t(ws)
        |GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "q_range_join" ->
      """SELECT e.event_id, p.purchase_id
        |FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS t_ms FROM events) e
        |JOIN (SELECT event_id AS purchase_id, user_id, epoch_ns(ts) // 1000000 AS lo,
        |             epoch_ns(ts) // 1000000 + 3600000 AS hi
        |      FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = e.user_id AND e.t_ms >= p.lo AND e.t_ms <= p.hi
        |ORDER BY event_id, purchase_id""".stripMargin,
    "q_interval_join" ->
      """SELECT v.view_id, p.purchase_id
        |FROM (SELECT event_id AS view_id, user_id,
        |             epoch_ns(ts) // 1000000 AS lo,
        |             epoch_ns(ts) // 1000000 + 7200000 AS hi
        |      FROM events WHERE event_type = 'view') v
        |JOIN (SELECT event_id AS purchase_id, user_id,
        |             epoch_ns(ts) // 1000000 - 3600000 AS lo,
        |             epoch_ns(ts) // 1000000 + 3600000 AS hi
        |      FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = v.user_id AND v.lo <= p.hi AND p.lo <= v.hi
        |ORDER BY view_id, purchase_id""".stripMargin,
    "q_asof_join" ->
      """SELECT event_id, user_id, o_orderkey FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey,
        |         row_number() OVER (PARTITION BY e.event_id
        |                            ORDER BY epoch_ms(o.o_orderdate) DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON o.o_custkey = e.user_id AND epoch_ms(o.o_orderdate) <= epoch_ns(e.ts) // 1000000
        |) WHERE rn = 1
        |UNION ALL
        |SELECT e.event_id, e.user_id, NULL AS o_orderkey FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = e.user_id AND epoch_ms(o.o_orderdate) <= epoch_ns(e.ts) // 1000000)
        |ORDER BY event_id""".stripMargin,
    "q_asof_forward" ->
      """SELECT event_id, user_id, o_orderkey FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey,
        |         row_number() OVER (PARTITION BY e.event_id
        |                            ORDER BY epoch_ms(o.o_orderdate) ASC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON o.o_custkey = e.user_id AND epoch_ms(o.o_orderdate) >= epoch_ns(e.ts) // 1000000
        |) WHERE rn = 1
        |UNION ALL
        |SELECT e.event_id, e.user_id, NULL AS o_orderkey FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = e.user_id AND epoch_ms(o.o_orderdate) >= epoch_ns(e.ts) // 1000000)
        |ORDER BY event_id""".stripMargin,
    "q_attribution" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS t,
        |             CAST(ROUND(value * 100) AS BIGINT) AS rev_cents
        |           FROM events WHERE event_type = 'purchase'),
        |tc AS (SELECT user_id AS t_user, epoch_ns(ts) AS t_ts,
        |             event_id AS t_id, event_type AS t_type,
        |             CAST(NULLIF(regexp_extract(props, '"k": *([0-9]+)', 1), '')
        |                  AS INT) % 5 AS channel
        |       FROM events WHERE event_type IN ('view', 'click'))
        |SELECT event_id, user_id, rev_cents, t_id AS touch_id,
        |       t_type AS touch_type, channel FROM (
        |  SELECT p.event_id, p.user_id, p.rev_cents, tc.t_id, tc.t_type,
        |         tc.channel,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY tc.t_ts DESC, tc.t_id DESC) AS rn
        |  FROM p JOIN tc ON tc.t_user = p.user_id AND tc.t_ts <= p.t
        |) WHERE rn = 1
        |UNION ALL
        |SELECT p.event_id, p.user_id, p.rev_cents, NULL, NULL, NULL FROM p
        |WHERE NOT EXISTS (SELECT 1 FROM tc
        |                  WHERE tc.t_user = p.user_id AND tc.t_ts <= p.t)
        |ORDER BY event_id""".stripMargin,
    // HLL registers: bucket = low 9 hash bits, rho = 52 - bitlength(h >> 9)
    "q_hll_registers" ->
      s"""WITH h AS (SELECT ${duckMd5_60("CAST(l_partkey AS VARCHAR)")} AS h
         |           FROM lineitem WHERE l_partkey IS NOT NULL)
         |SELECT CAST(h & 511 AS INT) AS bucket,
         |       CAST(max(CASE WHEN h >> 9 = 0 THEN 52
         |                     ELSE 52 - length(bin(h >> 9)) END) AS INT) AS r
         |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_hll_union" ->
      s"""WITH h AS (SELECT ${duckMd5_60("CAST(l_partkey AS VARCHAR)")} AS h
         |           FROM lineitem WHERE l_partkey IS NOT NULL)
         |SELECT CAST(h & 511 AS INT) AS bucket,
         |       CAST(max(CASE WHEN h >> 9 = 0 THEN 52
         |                     ELSE 52 - length(bin(h >> 9)) END) AS INT) AS r
         |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin,
    // raw HLL estimator replayed in exact HUGEINT arithmetic:
    // E = 7213·m³·2^62 // ((10000·m + 10790) · Σ_j 2^(62-M_j)), m = 512
    "q_hll_distinct" ->
      s"""WITH h AS (SELECT l_returnflag AS g,
         |             ${duckMd5_60("CAST(l_partkey AS VARCHAR)")} AS h
         |           FROM lineitem WHERE l_partkey IS NOT NULL),
         |reg AS (SELECT g, h & 511 AS bucket,
         |          max(CASE WHEN h >> 9 = 0 THEN 52 ELSE 52 - length(bin(h >> 9)) END) AS r
         |        FROM h GROUP BY g, bucket),
         |grps AS (SELECT DISTINCT g FROM h),
         |filled AS (SELECT grps.g, gr.b, coalesce(reg.r, 0) AS r
         |           FROM grps CROSS JOIN (SELECT unnest(range(512)) AS b) gr
         |           LEFT JOIN reg ON reg.g = grps.g AND reg.bucket = gr.b),
         |s AS (SELECT g, sum(CAST(CAST(1 AS BIGINT) << (62 - r) AS HUGEINT)) AS sm
         |      FROM filled GROUP BY g)
         |SELECT g AS l_returnflag,
         |  CAST((CAST(7213 AS HUGEINT) * 512 * 512 * 512
         |        * CAST(CAST(1 AS BIGINT) << 62 AS HUGEINT))
         |       // ((CAST(10000 AS HUGEINT) * 512 + 10790) * sm) AS BIGINT) AS est
         |FROM s ORDER BY l_returnflag""".stripMargin,
    "q_cms_estimate" ->
      s"""WITH tok AS (SELECT unnest(list_filter(str_split_regex(lower(text), '\\s+'),
         |                           x -> x <> '')) AS t FROM documents),
         |grid AS (SELECT unnest(range(4)) AS i),
         |cells AS (SELECT i,
         |            ${duckMd5_60("CAST(i AS VARCHAR) || ':' || t")} % 1024 AS slot,
         |            count(*) AS c
         |          FROM tok, grid GROUP BY 1, 2),
         |cand AS (SELECT unnest(['the','a','spark','scan','dup','query','data','zz_absent']) AS key),
         |cs AS (SELECT key, i,
         |         ${duckMd5_60("CAST(i AS VARCHAR) || ':' || key")} % 1024 AS slot
         |       FROM cand, grid)
         |SELECT key, CAST(min(coalesce(c, 0)) AS BIGINT) AS est
         |FROM cs LEFT JOIN cells USING (i, slot) GROUP BY key ORDER BY key""".stripMargin,
    "q_bloom_probe" ->
      s"""WITH bk AS (SELECT DISTINCT CAST(s_suppkey AS VARCHAR) AS k
         |            FROM supplier WHERE s_suppkey % 7 = 0),
         |grid AS (SELECT unnest(range(3)) AS i),
         |bits AS (SELECT DISTINCT ${duckMd5_60("CAST(i AS VARCHAR) || ':' || k")} % 64 AS pos
         |         FROM bk, grid),
         |probe AS (SELECT DISTINCT l_suppkey FROM lineitem),
         |pass AS (SELECT l_suppkey FROM probe WHERE NOT EXISTS (
         |  SELECT 1 FROM grid g
         |  WHERE ${duckMd5_60("CAST(g.i AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR)")} % 64
         |        NOT IN (SELECT pos FROM bits)))
         |SELECT p.l_suppkey,
         |       EXISTS (SELECT 1 FROM bk WHERE bk.k = CAST(p.l_suppkey AS VARCHAR)) AS is_member
         |FROM pass p ORDER BY l_suppkey""".stripMargin,
    "q_curate_v5" ->
      s"""WITH RECURSIVE $duckMinhashCtes,
         |$duckNearDupCcCtes,
         |$duckGopherCtes
         |SELECT gc.doc_id, CAST(nw AS INT) AS n_words
         |FROM gc JOIN surv USING (doc_id)
         |WHERE $duckGopherPass
         |ORDER BY doc_id""".stripMargin,
    "q_hll_intersect" ->
      s"""WITH ha AS (SELECT ${duckMd5_60("CAST(l_partkey AS VARCHAR)")} AS h
         |            FROM lineitem WHERE l_partkey IS NOT NULL),
         |hb AS (SELECT ${duckMd5_60("CAST(p_partkey AS VARCHAR)")} AS h
         |       FROM part WHERE p_partkey IS NOT NULL),
         |hu AS (SELECT h FROM ha UNION ALL SELECT h FROM hb),
         |${duckHllEstCtes("a")},
         |${duckHllEstCtes("b")},
         |${duckHllEstCtes("u")}
         |SELECT ea.e AS est_a, eb.e AS est_b, eu.e AS est_union,
         |       greatest(CAST(0 AS BIGINT), ea.e + eb.e - eu.e) AS est_intersect
         |FROM ea, eb, eu""".stripMargin,
    "q_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(list_filter(str_split_regex(lower(text), '\s+'),
        |                           x -> x <> '')) AS k FROM documents)
        |SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM tok
        |GROUP BY k HAVING count(*) >= 900
        |ORDER BY cnt DESC, k""".stripMargin,
    "q_pagerank" -> duckPageRankSql(6),
    "q_kcore" -> duckKCoreSql(2, 10),
    "q_bfs_dist" -> duckBfsSql(4),
    "q_clustering" ->
      s"""WITH RECURSIVE $duckMinhashCtes,
         |p AS (SELECT id_a, id_b FROM jac
         |      WHERE CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) >= 0.3),
         |e AS (SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
         |      FROM p WHERE id_a <> id_b GROUP BY 1, 2),
         |t AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |      FROM e e1 JOIN e e2 ON e2.a = e1.b
         |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tn AS (SELECT id, count(*) AS tri FROM (
         |         SELECT a AS id FROM t UNION ALL SELECT b FROM t
         |         UNION ALL SELECT c FROM t)
         |       GROUP BY id),
         |dn AS (SELECT id, count(*) AS deg FROM (
         |         SELECT a AS id FROM e UNION ALL SELECT b FROM e)
         |       GROUP BY id)
         |SELECT dn.id, CAST(coalesce(tn.tri, 0) AS BIGINT) AS tri,
         |       CAST(dn.deg AS BIGINT) AS deg
         |FROM dn LEFT JOIN tn USING (id) ORDER BY id""".stripMargin,
    "q_decimal_agg" ->
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS s_cents,
        |       CAST(sum(CAST(ROUND(l_quantity * 100) AS BIGINT)) * 100 AS BIGINT)
        |         // count(*) AS a_x10000,
        |       CAST(min(CAST(l_extendedprice AS DECIMAL(14,2))) * 100 AS BIGINT) AS mn_cents,
        |       CAST(max(CAST(l_extendedprice AS DECIMAL(14,2))) * 100 AS BIGINT) AS mx_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // strict `<` on the boundary: Spark merges sessions iff the next event
    // starts BEFORE the previous session's end (last + gap)
    "q_session_window" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t_us FROM events),
        |s AS (SELECT *, CASE WHEN t_us - lag(t_us) OVER w < 1800000000
        |                     THEN 0 ELSE 1 END AS nw
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
        |s2 AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY t_us) AS sess
        |       FROM s)
        |SELECT user_id, CAST(min(t_us) AS BIGINT) AS s_us,
        |       CAST(max(t_us) + 1800000000 AS BIGINT) AS e_us,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM s2 GROUP BY user_id, sess ORDER BY user_id, s_us""".stripMargin,
    "q_related_terms" ->
      """WITH t AS (SELECT DISTINCT doc_id,
        |             unnest(list_filter(str_split_regex(lower(text), '\s+'),
        |                    x -> x <> '')) AS term
        |           FROM documents),
        |f AS (SELECT term FROM t GROUP BY term HAVING count(*) >= 100),
        |tf AS (SELECT doc_id, term FROM t WHERE term IN (SELECT term FROM f)),
        |p AS (SELECT x.term AS a, y.term AS b, CAST(count(*) AS BIGINT) AS cnt
        |      FROM tf x JOIN tf y ON x.doc_id = y.doc_id AND x.term < y.term
        |      GROUP BY 1, 2 HAVING count(*) >= 100
        |      ORDER BY cnt DESC, a, b LIMIT 1000),
        |r AS (SELECT a AS t, b AS other, cnt FROM p
        |      UNION ALL SELECT b AS t, a AS other, cnt FROM p),
        |k AS (SELECT *, row_number() OVER (PARTITION BY t
        |                                   ORDER BY cnt DESC, other) AS rn
        |      FROM r)
        |SELECT t, other, cnt FROM k WHERE rn <= 3 ORDER BY t, other""".stripMargin,
    "q_cooccur" ->
      """WITH t AS (SELECT DISTINCT doc_id,
        |             unnest(list_filter(str_split_regex(lower(text), '\s+'),
        |                    x -> x <> '')) AS term
        |           FROM documents),
        |f AS (SELECT term FROM t GROUP BY term HAVING count(*) >= 100),
        |tf AS (SELECT doc_id, term FROM t WHERE term IN (SELECT term FROM f))
        |SELECT x.term AS a, y.term AS b, CAST(count(*) AS BIGINT) AS cnt
        |FROM tf x JOIN tf y ON x.doc_id = y.doc_id AND x.term < y.term
        |GROUP BY 1, 2 HAVING count(*) >= 100
        |ORDER BY cnt DESC, a, b LIMIT 50""".stripMargin,
    "q_triangles" ->
      s"""WITH RECURSIVE $duckMinhashCtes,
         |p AS (SELECT id_a, id_b FROM jac
         |      WHERE CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) >= 0.3),
         |e AS (SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
         |      FROM p WHERE id_a <> id_b GROUP BY 1, 2)
         |SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |FROM e e1 JOIN e e2 ON e2.a = e1.b
         |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
         |ORDER BY a, b, c""".stripMargin,
    "q_cohort" ->
      """WITH e AS (SELECT user_id, event_type,
        |             epoch_ns(ts) // 86400000000000 AS day FROM events),
        |a AS (SELECT user_id, min(day) AS cohort_day FROM e
        |      WHERE event_type = 'signup' GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, day FROM e)
        |SELECT a.cohort_day, act.day - a.cohort_day AS offset_day,
        |       CAST(count(DISTINCT act.user_id) AS BIGINT) AS active_users
        |FROM act JOIN a USING (user_id)
        |WHERE act.day >= a.cohort_day
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS reached,
        |  t1, t2, t3
        |FROM (SELECT DISTINCT user_id FROM e
        |      WHERE event_type IN ('view', 'click', 'purchase')) u
        |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q_bloom_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_nationkey
        |FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |WHERE s.s_suppkey % 7 = 0
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
    "q_inverted_index" ->
      """WITH dt AS (SELECT DISTINCT doc_id,
        |              unnest(list_filter(str_split_regex(lower(text), '\s+'),
        |                     x -> x <> '')) AS term
        |            FROM documents),
        |dfs AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
        |keep AS (SELECT term, df FROM dfs WHERE df >= 1 AND df <= 390)
        |SELECT k.term, k.df,
        |       array_to_string(list(d.doc_id ORDER BY d.doc_id), ',') AS plist
        |FROM keep k JOIN dt d USING (term)
        |GROUP BY k.term, k.df ORDER BY term""".stripMargin,
    "q_postings_search" ->
      """WITH w AS (SELECT doc_id,
        |             list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |           FROM documents)
        |SELECT doc_id FROM w
        |WHERE list_contains(ts, 'spark') AND list_contains(ts, 'scan')
        |  AND list_contains(ts, 'dup')
        |ORDER BY doc_id""".stripMargin,
    "q_gopher_rules" ->
      s"""WITH $duckGopherCtes
         |SELECT doc_id, CAST(nw AS INT) AS n_words,
         |${duckGopherRules.map { case (n, e) => s"  $e AS $n" }.mkString(",\n")},
         |  $duckGopherPass AS pass
         |FROM gc ORDER BY doc_id""".stripMargin,
    "q_c4_filter" ->
      s"""WITH $duckC4Ctes
         |SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
         |  CAST(n_kept AS INT) AS n_kept,
         |  CAST(n_sentences AS INT) AS n_sentences, has_lorem, has_brace, pass,
         |  CASE WHEN pass THEN ct END AS clean_text
         |FROM c4f ORDER BY doc_id""".stripMargin,
    "q_pipeline_report" ->
      s"""WITH $duckC4Ctes,
         |c4s AS (SELECT doc_id FROM c4f WHERE pass),
         |$duckGopherCtes,
         |gp AS (SELECT gc.doc_id FROM gc JOIN c4s USING (doc_id)
         |       WHERE $duckGopherPass),
         |fps AS (SELECT d.doc_id, ${duckMd5_60("substr(d.text, 1, 30)")} AS fp
         |        FROM documents d JOIN gp USING (doc_id)),
         |win AS (SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp)
         |SELECT 's1_total' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
         |UNION ALL SELECT 's2_c4', CAST(count(*) AS BIGINT) FROM c4s
         |UNION ALL SELECT 's3_gopher', CAST(count(*) AS BIGINT) FROM gp
         |UNION ALL SELECT 's4_dedup', CAST(count(*) AS BIGINT) FROM win
         |ORDER BY stage""".stripMargin,
    "q_jaro" ->
      """SELECT a.p_partkey AS id, jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
        |ORDER BY id""".stripMargin,
    // canonical form derived DIRECTLY from doc_id arithmetic — lowercased
    // scheme/host, default ports gone, :8080 kept (only when neither
    // default-port branch matched), empty path -> '/', trailing slash gone,
    // tracking params gone, survivors sorted, fragments gone
    "q_url_normalize" ->
      """SELECT doc_id,
        |  concat('http', CASE WHEN doc_id % 3 = 0 THEN 's' ELSE '' END,
        |    '://example', CAST(doc_id % 7 AS VARCHAR), '.com',
        |    CASE WHEN doc_id % 11 = 0 AND doc_id % 3 <> 0 AND doc_id % 5 <> 0
        |         THEN ':8080' ELSE '' END,
        |    CASE WHEN doc_id % 9 = 0 THEN '/'
        |         ELSE concat('/Path/', CAST(doc_id % 13 AS VARCHAR)) END,
        |    CASE WHEN doc_id % 4 = 0 THEN '?a=1&b=2'
        |         WHEN doc_id % 4 = 1 THEN '?a=1&z=26' ELSE '' END) AS norm,
        |  concat('example', CAST(doc_id % 7 AS VARCHAR), '.com') AS domain
        |FROM documents ORDER BY doc_id""".stripMargin,
    // canonical = pure (doc_id % 20, doc_id % 50) arithmetic: every raw
    // variant family must have collapsed to exactly one of these
    "q_url_dedup" ->
      """SELECT concat('http://site', CAST(doc_id % 20 AS VARCHAR),
        |         '.com/p/', CAST(doc_id % 50 AS VARCHAR)) AS norm,
        |       CAST(min(doc_id) AS BIGINT) AS keeper,
        |       CAST(count(*) AS BIGINT) AS n_variants
        |FROM documents GROUP BY 1 ORDER BY norm""".stripMargin,
    "q_curate_v6" ->
      s"""WITH $duckC4Ctes,
         |c4s AS (SELECT doc_id FROM c4f WHERE pass),
         |$duckGopherCtes,
         |gp AS (SELECT gc.doc_id FROM gc JOIN c4s USING (doc_id)
         |       WHERE $duckGopherPass),
         |sv AS (SELECT d.source, d.doc_id,
         |    CAST(len(list_filter(str_split_regex(d.text, '\\s+'), x -> x <> ''))
         |         AS BIGINT) AS n_tok,
         |    ${duckMd5_60("'v6:' || CAST(d.doc_id AS VARCHAR)")} AS h
         |  FROM documents d JOIN gp USING (doc_id)),
         |cm AS (SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
         |                     ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM sv)
         |SELECT source, doc_id, n_tok, CAST(cum AS BIGINT) AS cum
         |FROM cm WHERE cum <= 600 ORDER BY source, doc_id""".stripMargin,
    // the full-funnel capstone: near-dedup survivors ∩ C4 ∩ gopher ∩ LM ∩
    // classifier, then span-dedup over THAT subset, budget-mix, recursive
    // greedy pack, and the salted epoch order — all shared fragments
    "q_curate_v7" ->
      s"""WITH RECURSIVE $duckMinhashCtes,
         |$duckNearDupCcCtes,
         |$duckC4Ctes,
         |c4s AS (SELECT doc_id FROM c4f WHERE pass),
         |$duckGopherCtes,
         |gp AS (SELECT doc_id FROM gc WHERE $duckGopherPass),
         |$duckUnigramLmCtes,
         |${duckLogitCtes(classifierLabel, iters = 8)},
         |keep AS MATERIALIZED (
         |  SELECT d.doc_id, d.source, d.text FROM documents d
         |  JOIN surv s7 ON s7.doc_id = d.doc_id
         |  JOIN c4s ON c4s.doc_id = d.doc_id
         |  JOIN gp ON gp.doc_id = d.doc_id
         |  JOIN lm ON lm.doc_id = d.doc_id
         |  JOIN clf ON clf.doc_id = d.doc_id
         |  WHERE lm.bits_per_tok <= 9 AND clf.pred),
         |${duckSpanCtes("keep")},
         |sv7 AS (SELECT k.source, sd.doc_id,
         |    CAST(len(list_filter(str_split_regex(sd.kept_text, '\\s+'), x -> x <> ''))
         |         AS BIGINT) AS n_tok,
         |    ${duckMd5_60("'v7m:' || CAST(sd.doc_id AS VARCHAR)")} AS h
         |  FROM sd JOIN keep k ON k.doc_id = sd.doc_id),
         |cm7 AS (SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
         |                     ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM sv7),
         |mix7 AS MATERIALIZED (SELECT source, doc_id, n_tok FROM cm7 WHERE cum <= 600),
         |d7 AS MATERIALIZED (SELECT source, doc_id, n_tok,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM mix7),
         |pack7 AS (
         |  SELECT source, doc_id, n_tok, rn, 0 AS bin, n_tok AS fill
         |  FROM d7 WHERE rn = 1
         |  UNION ALL
         |  SELECT r.source, r.doc_id, r.n_tok, r.rn,
         |         CASE WHEN p.fill + r.n_tok <= 512 THEN p.bin ELSE p.bin + 1 END,
         |         CASE WHEN p.fill + r.n_tok <= 512 THEN p.fill + r.n_tok ELSE r.n_tok END
         |  FROM pack7 p JOIN d7 r ON r.source = p.source AND r.rn = p.rn + 1),
         |pos7 AS (SELECT doc_id, row_number() OVER (
         |    ORDER BY ${duckMd5_60("'v7s:' || CAST(doc_id AS VARCHAR)")}, doc_id) - 1 AS pos
         |  FROM mix7)
         |SELECT p.source, p.doc_id, CAST(p.n_tok AS BIGINT) AS n_tok,
         |       CAST(p.bin AS BIGINT) AS bin, CAST(p.fill AS BIGINT) AS fill,
         |       CAST(q.pos AS BIGINT) AS pos
         |FROM pack7 p JOIN pos7 q ON q.doc_id = p.doc_id
         |ORDER BY p.source, p.doc_id""".stripMargin,
    "q_jw_neighbors" ->
      """WITH r AS (SELECT p_partkey AS id, p_name AS s,
        |    row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS rk
        |  FROM part)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       jaro_winkler_similarity(a.s, b.s) AS sim
        |FROM r a JOIN r b ON b.rk >= a.rk + 1 AND b.rk <= a.rk + 9
        |WHERE jaro_winkler_similarity(a.s, b.s) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "q_blocklist" ->
      """SELECT doc_id,
        |  coalesce(array_to_string(list_sort(list_filter(
        |    ['spark', 'window', 'scan', 'fast key', 'ast', 'gdpr', 'lorem'],
        |    p -> contains(text, p))), ','), '') AS hits
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_html_strip" ->
      s"""SELECT doc_id, trim(regexp_replace(
         |  replace(replace(replace(replace(replace(replace(
         |    regexp_replace(regexp_replace(regexp_replace($htmlPageSql,
         |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
         |      '(?s)<[^>]*>', ' ', 'g'),
         |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |    '&#39;', ''''), '&amp;', '&'),
         |  '[\\t\\n\\x0B\\f\\r ]+', ' ', 'g')) AS clean
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_mix" ->
      s"""WITH t AS (SELECT source, doc_id,
         |    CAST(len(list_filter(str_split_regex(text, '\\s+'), x -> x <> ''))
         |         AS BIGINT) AS n_tok,
         |    ${duckMd5_60("'mix1:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |c AS (SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
         |                     ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT source, doc_id, n_tok, CAST(cum AS BIGINT) AS cum
         |FROM c WHERE cum <= 800 ORDER BY source, doc_id""".stripMargin,
    "q_index_increment" ->
      """WITH dt AS (SELECT DISTINCT doc_id,
        |              unnest(list_filter(str_split_regex(lower(text), '\s+'),
        |                     x -> x <> '')) AS term
        |            FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS plist
        |FROM dt GROUP BY term ORDER BY term""".stripMargin,
    "q_shuffle_det" ->
      s"""SELECT doc_id,
         |  CAST(row_number() OVER (
         |    ORDER BY ${duckMd5_60("'ep0:' || CAST(doc_id AS VARCHAR)")}, doc_id) - 1
         |    AS BIGINT) AS pos
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lm_bigram" ->
      """WITH w AS (SELECT doc_id,
        |             list_filter(str_split_regex(lower(coalesce(text, '')), '\s+'),
        |                         x -> x <> '') AS ws
        |           FROM documents),
        |tok AS (SELECT doc_id, t.i AS i, ws[t.i+1] AS cur,
        |               CASE WHEN t.i = 0 THEN NULL ELSE ws[t.i] END AS prev
        |        FROM w, unnest(range(len(ws))) AS t(i)),
        |uni_all AS (SELECT cur AS t, count(*) AS c FROM tok GROUP BY cur),
        |tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM uni_all),
        |uni AS (SELECT t, c FROM uni_all ORDER BY c DESC, t LIMIT 16),
        |big_all AS (SELECT prev, cur, count(*) AS c2 FROM tok
        |            WHERE prev IS NOT NULL GROUP BY prev, cur),
        |big AS (SELECT prev, cur, c2 FROM big_all
        |        ORDER BY c2 DESC, prev, cur LIMIT 64),
        |sc AS (SELECT k.doc_id,
        |         CASE WHEN k.prev IS NULL
        |                THEN length(bin((SELECT n FROM tot) // greatest(coalesce(u.c, 0), 1)))
        |              WHEN b.c2 IS NOT NULL AND coalesce(up.c, 0) >= b.c2
        |                THEN length(bin(coalesce(up.c, 0) // b.c2))
        |              ELSE 1 + length(bin((SELECT n FROM tot) // greatest(coalesce(u.c, 0), 1)))
        |         END AS bits
        |       FROM tok k
        |       LEFT JOIN uni u ON u.t = k.cur
        |       LEFT JOIN uni up ON up.t = k.prev
        |       LEFT JOIN big b ON b.prev = k.prev AND b.cur = k.cur),
        |agg AS (SELECT doc_id, CAST(coalesce(sum(bits), 0) AS BIGINT) AS surprisal
        |        FROM sc GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.ws) AS INT) AS n_tok,
        |       CAST(coalesce(a.surprisal, 0) AS BIGINT) AS surprisal
        |FROM w LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_corpus_stats" ->
      """WITH w AS (SELECT coalesce(text, '') AS t,
        |             list_filter(str_split_regex(lower(coalesce(text, '')), '\s+'),
        |                         x -> x <> '') AS ws
        |           FROM documents),
        |b AS (SELECT len(ws) AS nt, length(t) AS nc, ws FROM w)
        |SELECT * FROM (
        |  SELECT 'n_docs' AS stat, CAST(count(*) AS BIGINT) AS value FROM b
        |  UNION ALL SELECT 'n_tokens', CAST(coalesce(sum(nt), 0) AS BIGINT) FROM b
        |  UNION ALL SELECT 'n_chars', CAST(coalesce(sum(nc), 0) AS BIGINT) FROM b
        |  UNION ALL SELECT 'max_doc_tokens', CAST(max(nt) AS BIGINT) FROM b
        |  UNION ALL SELECT 'min_doc_tokens', CAST(min(nt) AS BIGINT) FROM b
        |  UNION ALL SELECT 'hist_' || CAST(nt // 10 AS VARCHAR), CAST(count(*) AS BIGINT)
        |            FROM b GROUP BY nt // 10
        |  UNION ALL SELECT 'distinct_terms', CAST(count(DISTINCT term) AS BIGINT)
        |            FROM (SELECT unnest(ws) AS term FROM b)
        |) ORDER BY stat""".stripMargin,
    "q_connected_components" ->
      s"""WITH RECURSIVE $duckMinhashCtes,
         |$duckNearDupCcCtes
         |SELECT id AS doc_id, CAST(comp AS BIGINT) AS comp
         |FROM comp ORDER BY doc_id""".stripMargin,
    // brute-force cross join: equality with the blocked Spark plan proves
    // the PassJoin pigeonhole blocking loses no pair
    "q_fuzzy_join" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE abs(length(a.p_name) - length(b.p_name)) <= 1
        |  AND levenshtein(a.p_name, b.p_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    "q_entity_ids" -> duckEntityIdsSql(8),
    "q_orc_roundtrip" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 7 = 0 THEN NULL
        |            ELSE substr(text, 1, 25) || ' é€' || chr(10) || 'tail' END
        |         AS tricky,
        |       n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_anomaly" ->
      """WITH e AS (SELECT event_id, event_type,
        |             CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |             epoch_ns(ts) AS tns
        |           FROM events),
        |w AS (SELECT event_id, event_type, cents,
        |        count(*) OVER fr AS n,
        |        sum(cents) OVER fr AS s,
        |        sum(cents * cents) OVER fr AS s2
        |      FROM e
        |      WINDOW fr AS (PARTITION BY event_type ORDER BY tns, event_id
        |                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, cents, CAST(n AS INT) AS roll_n,
        |       CAST(CASE WHEN (n * cents - s) * (n * cents - s)
        |                       > 9 * (n * s2 - s * s) THEN 1 ELSE 0 END AS INT) AS flag
        |FROM w ORDER BY event_type, event_id""".stripMargin,
    "q_resample_fill" ->
      """WITH e AS (SELECT user_id, event_id,
        |             epoch_ns(ts) // 86400000000000 AS day,
        |             epoch_ns(ts) AS tns,
        |             CAST(ROUND(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |d AS (SELECT user_id, day, cents FROM (
        |        SELECT user_id, day, cents,
        |               row_number() OVER (PARTITION BY user_id, day
        |                                  ORDER BY tns DESC, event_id DESC) AS rn
        |        FROM e) WHERE rn = 1),
        |g AS (SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
        |      FROM e GROUP BY user_id)
        |SELECT g.user_id, CAST(g.day AS BIGINT) AS day,
        |       CAST(last_value(d.cents IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.day) AS BIGINT) AS cents
        |FROM g LEFT JOIN d ON d.user_id = g.user_id AND d.day = g.day
        |ORDER BY g.user_id, g.day""".stripMargin,
    "q_ewma" ->
      """WITH e AS (SELECT event_id, event_type,
        |             CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |             epoch_ns(ts) AS tns
        |           FROM events)
        |SELECT event_id, event_type,
        |  CAST(coalesce(lag(cents, 0) OVER w, 0) * 128
        |     + coalesce(lag(cents, 1) OVER w, 0) * 64
        |     + coalesce(lag(cents, 2) OVER w, 0) * 32
        |     + coalesce(lag(cents, 3) OVER w, 0) * 16
        |     + coalesce(lag(cents, 4) OVER w, 0) * 8
        |     + coalesce(lag(cents, 5) OVER w, 0) * 4
        |     + coalesce(lag(cents, 6) OVER w, 0) * 2
        |     + coalesce(lag(cents, 7) OVER w, 0) AS BIGINT) AS ewma_scaled
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY tns, event_id)
        |ORDER BY event_type, event_id""".stripMargin,
    "q_paths" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t, event_id AS i
        |           FROM events),
        |s AS (SELECT *, CASE WHEN t - lag(t) OVER w <= 86400000000000
        |                     THEN 0 ELSE 1 END AS nw
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, i)),
        |s2 AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY t, i) AS sess
        |       FROM s),
        |l AS (SELECT event_type AS t0, lead(event_type, 1) OVER w AS t1,
        |             lead(event_type, 2) OVER w AS t2, sess,
        |             lead(sess, 1) OVER w AS sl1, lead(sess, 2) OVER w AS sl2
        |      FROM s2 WINDOW w AS (PARTITION BY user_id ORDER BY t, i))
        |SELECT t0 || '>' || t1 || '>' || t2 AS path, CAST(count(*) AS BIGINT) AS cnt
        |FROM l WHERE sl1 = sess AND sl2 = sess
        |GROUP BY 1 ORDER BY cnt DESC, path LIMIT 10""".stripMargin,
    "q_cusum" ->
      """WITH e AS (SELECT event_id, event_type,
        |             CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |             epoch_ns(ts) AS tns
        |           FROM events),
        |r AS (SELECT *, row_number() OVER w AS rn
        |      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY tns, event_id)),
        |b AS (SELECT event_type,
        |        sum(CASE WHEN rn <= 50 THEN cents END) AS s0,
        |        sum(CASE WHEN rn <= 50 THEN 1 END) AS n0
        |      FROM r GROUP BY event_type),
        |c AS (SELECT r.event_id, r.event_type,
        |        sum(b.n0 * r.cents - b.s0)
        |          OVER (PARTITION BY r.event_type ORDER BY r.tns, r.event_id) AS cusum,
        |        b.n0 AS n0
        |      FROM r JOIN b USING (event_type))
        |SELECT event_id, event_type, CAST(cusum AS BIGINT) AS cusum,
        |       CAST(CASE WHEN abs(cusum) > 100000 * n0 THEN 1 ELSE 0 END AS INT)
        |         AS changed
        |FROM c ORDER BY event_type, event_id""".stripMargin,
    "q_runs" ->
      """WITH e AS (SELECT user_id AS key, event_type AS sym,
        |             epoch_ns(ts) AS t, event_id AS i FROM events),
        |m AS (SELECT *, row_number() OVER w AS rn,
        |        CASE WHEN lag(sym) OVER w = sym THEN 0 ELSE 1 END AS chg
        |      FROM e WINDOW w AS (PARTITION BY key ORDER BY t, i)),
        |m2 AS (SELECT *, sum(chg) OVER (PARTITION BY key ORDER BY t, i) AS run
        |       FROM m)
        |SELECT key AS user_id, sym, CAST(min(rn) AS BIGINT) AS run_start,
        |       CAST(count(*) AS BIGINT) AS run_len
        |FROM m2 GROUP BY key, run, sym ORDER BY user_id, run_start""".stripMargin,
    "q_rank_corr" ->
      """WITH b AS (SELECT l_returnflag AS rf,
        |             CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
        |             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        |           FROM lineitem),
        |r AS (SELECT rf,
        |        2 * rank() OVER (PARTITION BY rf ORDER BY x) - 1
        |          + count(*) OVER (PARTITION BY rf, x) AS r2x,
        |        2 * rank() OVER (PARTITION BY rf ORDER BY y) - 1
        |          + count(*) OVER (PARTITION BY rf, y) AS r2y
        |      FROM b)
        |SELECT rf, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum((r2x - r2y) * (r2x - r2y)) AS VARCHAR) AS sum_d2
        |FROM r GROUP BY rf ORDER BY rf""".stripMargin,
    "q_profile" ->
      """SELECT col_name, n_nonnull, n_distinct, min_s, max_s FROM (
        |  SELECT 'l_orderkey' AS col_name, count(l_orderkey) AS n_nonnull,
        |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        |         CAST(min(l_orderkey) AS VARCHAR) AS min_s,
        |         CAST(max(l_orderkey) AS VARCHAR) AS max_s FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', count(l_partkey),
        |         CAST(count(DISTINCT l_partkey) AS BIGINT),
        |         CAST(min(l_partkey) AS VARCHAR), CAST(max(l_partkey) AS VARCHAR)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', count(l_suppkey),
        |         CAST(count(DISTINCT l_suppkey) AS BIGINT),
        |         CAST(min(l_suppkey) AS VARCHAR), CAST(max(l_suppkey) AS VARCHAR)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', count(l_returnflag),
        |         CAST(count(DISTINCT l_returnflag) AS BIGINT),
        |         min(l_returnflag), max(l_returnflag) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linestatus', count(l_linestatus),
        |         CAST(count(DISTINCT l_linestatus) AS BIGINT),
        |         min(l_linestatus), max(l_linestatus) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate', count(l_shipdate),
        |         CAST(count(DISTINCT l_shipdate) AS BIGINT),
        |         strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
        |         strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') FROM lineitem
        |)""".stripMargin,
    "q_weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, lang, least(n_chars // 200 + 1, 8) AS w
         |           FROM documents),
         |p AS (SELECT doc_id, lang,
         |        list_min(list_transform(range(w), i ->
         |          ${duckMd5_60("'ws1:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}))
         |          AS priority
         |      FROM t WHERE w >= 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |                                   ORDER BY priority, doc_id) AS rn
         |      FROM p)
         |SELECT doc_id, lang, CAST(priority AS BIGINT) AS priority
         |FROM r WHERE rn <= 10 ORDER BY lang, priority, doc_id""".stripMargin,
    "q_csv_roundtrip" ->
      """SELECT doc_id,
        |       'a,"b"' || chr(10) || '  ' || substr(text, 1, 20) || ' é€ '
        |         || chr(10) || 'z' AS tricky,
        |       n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_jsonl_roundtrip" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 11 = 0 THEN NULL
        |            ELSE 'a,"b"' || chr(10) || substr(text, 1, 20) || ' é€\' END
        |         AS tricky,
        |       n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_funnel_capstone" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id),
        |c AS (SELECT (SELECT count(*) FROM s1) AS r1,
        |             (SELECT count(*) FROM s2) AS r2,
        |             (SELECT count(*) FROM s3) AS r3),
        |d AS (SELECT s3.t3 - s1.t1 AS d FROM s3 JOIN s1 USING (user_id)),
        |w AS (SELECT d, row_number() OVER (ORDER BY d) AS rn,
        |             count(*) OVER () AS n FROM d),
        |p AS (SELECT max(CASE WHEN rn = (50 * n + 99) // 100 THEN d END) AS p50,
        |             max(CASE WHEN rn = (90 * n + 99) // 100 THEN d END) AS p90
        |      FROM w)
        |SELECT stat, CAST(value AS BIGINT) AS value FROM (
        |  SELECT 'reached_view' AS stat, r1 AS value FROM c
        |  UNION ALL SELECT 'reached_click', r2 FROM c
        |  UNION ALL SELECT 'reached_purchase', r3 FROM c
        |  UNION ALL SELECT 'p50_conv_ns', p50 FROM p
        |  UNION ALL SELECT 'p90_conv_ns', p90 FROM p)
        |ORDER BY stat""".stripMargin,
    // the oracle runs the NAIVE bounded frame — equality proves the tile
    // decomposition covers every trailing window exactly
    "q_rolling_extrema" ->
      """WITH e AS (SELECT event_id, event_type,
        |             CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |             epoch_ns(ts) AS tns
        |           FROM events)
        |SELECT event_id, event_type, cents,
        |       max(cents) OVER fr AS roll_max,
        |       min(cents) OVER fr AS roll_min
        |FROM e
        |WINDOW fr AS (PARTITION BY event_type ORDER BY tns, event_id
        |              ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, event_id""".stripMargin,
    "q_event_dedup" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS t
        |           FROM events),
        |l AS (SELECT *, lag(t) OVER (PARTITION BY user_id, event_type
        |                             ORDER BY t, event_id) AS p
        |      FROM e)
        |SELECT event_id, user_id, event_type FROM l
        |WHERE p IS NULL OR t - p > 3600000000000
        |ORDER BY event_id""".stripMargin,
    "q_assoc_rules" ->
      """WITH t AS (SELECT DISTINCT doc_id,
        |             unnest(list_filter(str_split_regex(lower(text), '\s+'),
        |                    x -> x <> '')) AS term
        |           FROM documents),
        |i AS (SELECT term, CAST(count(*) AS BIGINT) AS sup FROM t
        |      GROUP BY term HAVING count(*) >= 100),
        |tf AS (SELECT doc_id, term FROM t WHERE term IN (SELECT term FROM i)),
        |p AS (SELECT x.term AS a, y.term AS b, CAST(count(*) AS BIGINT) AS sp
        |      FROM tf x JOIN tf y ON x.doc_id = y.doc_id AND x.term < y.term
        |      GROUP BY 1, 2 HAVING count(*) >= 100),
        |r AS (SELECT a AS ante, b AS cons, sp FROM p
        |      UNION ALL SELECT b AS ante, a AS cons, sp FROM p)
        |SELECT r.ante, r.cons, r.sp AS sup_pair, ia.sup AS sup_ante,
        |       ic.sup AS sup_cons
        |FROM r JOIN i ia ON ia.term = r.ante JOIN i ic ON ic.term = r.cons
        |WHERE 100 * r.sp >= 80 * ia.sup
        |ORDER BY ante, cons""".stripMargin,
    "q_window_distinct" ->
      """WITH e AS (SELECT DISTINCT event_type AS key,
        |             epoch_ns(ts) // 86400000000000 AS day, user_id AS ent
        |           FROM events),
        |g AS (SELECT key, unnest(generate_series(min(day), max(day))) AS day
        |      FROM e GROUP BY key),
        |f AS (SELECT key, ent,
        |        unnest(generate_series(day, day + 6)) AS day FROM e),
        |c AS (SELECT key, day, count(DISTINCT ent) AS nd
        |      FROM f GROUP BY key, day)
        |SELECT g.key AS event_type, CAST(g.day AS BIGINT) AS day,
        |       CAST(coalesce(c.nd, 0) AS BIGINT) AS nd
        |FROM g LEFT JOIN c USING (key, day)
        |ORDER BY event_type, day""".stripMargin,
    // HLL windowed distinct: day registers (bucket = low 9 hash bits,
    // rho = 52 - bitlength(h >> 9)) fanned into trailing windows,
    // max-merged, then the q_hll_distinct HUGEINT estimator per (key, day)
    "q_window_distinct_hll" ->
      s"""WITH e AS (SELECT event_type AS key,
         |             epoch_ns(ts) // 86400000000000 AS day,
         |             ${duckMd5_60("CAST(user_id AS VARCHAR)")} AS h
         |           FROM events WHERE user_id IS NOT NULL),
         |reg AS (SELECT key, day, h & 511 AS bucket,
         |          max(CASE WHEN h >> 9 = 0 THEN 52
         |                   ELSE 52 - length(bin(h >> 9)) END) AS r
         |        FROM e GROUP BY 1, 2, 3),
         |f AS (SELECT key, bucket, r,
         |        unnest(generate_series(day, day + 6)) AS day FROM reg),
         |mg AS (SELECT key, day, bucket, max(r) AS r FROM f GROUP BY 1, 2, 3),
         |s AS (SELECT key, day,
         |        sum(CAST(CAST(1 AS BIGINT) << (62 - r) AS HUGEINT)) AS ssum,
         |        count(*) AS n
         |      FROM mg GROUP BY 1, 2),
         |g AS (SELECT event_type AS key,
         |        unnest(generate_series(min(epoch_ns(ts) // 86400000000000),
         |                               max(epoch_ns(ts) // 86400000000000))) AS day
         |      FROM events GROUP BY 1)
         |SELECT g.key AS event_type, CAST(g.day AS BIGINT) AS day,
         |  CAST(CASE WHEN s.n IS NULL THEN 0 ELSE
         |    (CAST(7213 AS HUGEINT) * 512 * 512 * 512
         |     * CAST(CAST(1 AS BIGINT) << 62 AS HUGEINT))
         |    // ((CAST(10000 AS HUGEINT) * 512 + 10790)
         |       * (s.ssum + (512 - s.n) * CAST(CAST(1 AS BIGINT) << 62 AS HUGEINT)))
         |  END AS BIGINT) AS est
         |FROM g LEFT JOIN s ON s.key = g.key AND s.day = g.day
         |ORDER BY event_type, day""".stripMargin,
    // trailing 7-day counts fanned from daily counts, ranked per day
    "q_trending" ->
      """WITH d AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |             count(*) AS c
        |           FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, c,
        |        unnest(generate_series(day, day + 6)) AS day FROM d),
        |w AS (SELECT day, event_type, CAST(sum(c) AS BIGINT) AS cnt7
        |      FROM f WHERE day <= (SELECT max(day) FROM d) GROUP BY 1, 2),
        |r AS (SELECT day, event_type, cnt7,
        |        row_number() OVER (PARTITION BY day
        |                           ORDER BY cnt7 DESC, event_type) AS rank
        |      FROM w)
        |SELECT CAST(day AS BIGINT) AS day, event_type, cnt7,
        |       CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY day, rank""".stripMargin,
    "q_winsorize" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        |w AS (SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY cents) AS rn,
        |        count(*) OVER (PARTITION BY c_nationkey) AS n FROM c),
        |b AS (SELECT c_nationkey,
        |        max(CASE WHEN rn = (5 * n + 99) // 100 THEN cents END) AS lo,
        |        max(CASE WHEN rn = (95 * n + 99) // 100 THEN cents END) AS hi
        |      FROM w GROUP BY c_nationkey)
        |SELECT c.c_custkey, c.c_nationkey, c.cents,
        |       least(greatest(c.cents, b.lo), b.hi) AS v_w
        |FROM c JOIN b USING (c_nationkey) ORDER BY c_custkey""".stripMargin,
    "q_scd1" ->
      """SELECT user_id, event_type, CAST(t AS BIGINT) AS ts FROM (
        |  SELECT user_id, event_type, epoch_ns(ts) AS t,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_ns(ts) DESC, event_id DESC)
        |           AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_scd2" -> duckScd2Sql,
    // incremental ≡ batch: the oracle for the incremental build IS the
    // full-changelog rebuild
    "q_scd2_increment" -> duckScd2Sql,
    "q_snapshot_diff" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |             o_orderstatus AS status FROM orders),
        |o AS (SELECT * FROM b WHERE k % 3 <> 0),
        |n AS (SELECT k, cents + CASE WHEN k % 7 = 0 THEN 100 ELSE 0 END AS cents,
        |             status FROM b WHERE k % 5 <> 0),
        |j AS (SELECT coalesce(o.k, n.k) AS o_orderkey,
        |             CASE WHEN o.k IS NULL THEN 'added'
        |                  WHEN n.k IS NULL THEN 'removed'
        |                  WHEN (o.cents IS DISTINCT FROM n.cents)
        |                    OR (o.status IS DISTINCT FROM n.status) THEN 'changed'
        |                  ELSE 'unchanged' END AS change,
        |             o.cents AS old_cents, n.cents AS new_cents,
        |             o.status AS old_status, n.status AS new_status
        |      FROM o FULL JOIN n ON o.k = n.k)
        |SELECT * FROM j WHERE change <> 'unchanged' ORDER BY o_orderkey""".stripMargin,
    "q_dq_report" ->
      """SELECT * FROM (
        |SELECT 'not_null:l_orderkey' AS check_name,
        |       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS violations,
        |       CAST(count(*) AS BIGINT) AS total FROM lineitem
        |UNION ALL
        |SELECT 'not_null:l_quantity',
        |       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'range:l_quantity[1,50]',
        |       CAST(sum(CASE WHEN l_quantity IS NOT NULL
        |                      AND (CAST(l_quantity AS BIGINT) < 1
        |                        OR CAST(l_quantity AS BIGINT) > 50)
        |                THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'range:l_linenumber[1,4]',
        |       CAST(sum(CASE WHEN l_linenumber IS NOT NULL
        |                      AND (l_linenumber < 1 OR l_linenumber > 4)
        |                THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'accepted:l_returnflag',
        |       CAST(sum(CASE WHEN l_returnflag IS NOT NULL
        |                      AND l_returnflag NOT IN ('A', 'N', 'R')
        |                THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'accepted:l_linestatus',
        |       CAST(sum(CASE WHEN l_linestatus IS NOT NULL
        |                      AND l_linestatus NOT IN ('O')
        |                THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'unique:l_orderkey,l_linenumber',
        |       CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT),
        |       CAST(coalesce(sum(c), 0) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber)
        |UNION ALL
        |SELECT 'unique:l_orderkey',
        |       CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT),
        |       CAST(coalesce(sum(c), 0) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)
        |UNION ALL
        |SELECT 'ref:l_orderkey->o_orderkey',
        |       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT)
        |FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL) l
        |LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'ref:l_suppkey->s_suppkey',
        |       CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT)
        |FROM (SELECT l_suppkey FROM lineitem WHERE l_suppkey IS NOT NULL) l
        |LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier
        |           WHERE s_suppkey % 2 = 0) s
        |  ON l.l_suppkey = s.s_suppkey
        |) ORDER BY check_name""".stripMargin,
    "q_warehouse_capstone" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
        |           FROM events),
        |c AS (SELECT *, lag(event_type)
        |               OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
        |      FROM e),
        |v AS (SELECT user_id, event_type, t, event_id FROM c
        |      WHERE prev IS NULL OR prev IS DISTINCT FROM event_type),
        |f AS (SELECT user_id, event_type, t AS valid_from,
        |             lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |               AS valid_to
        |      FROM v),
        |h AS (SELECT user_id, event_type, valid_from, valid_to,
        |             CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
        |      FROM f)
        |SELECT * FROM (
        |SELECT 'not_null:user_id' AS check_name,
        |       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS violations,
        |       CAST(count(*) AS BIGINT) AS total FROM h
        |UNION ALL
        |SELECT 'not_null:event_type',
        |       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT) FROM h
        |UNION ALL
        |SELECT 'not_null:valid_from',
        |       CAST(sum(CASE WHEN valid_from IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT) FROM h
        |UNION ALL
        |SELECT 'predicate:valid_to_after_from',
        |       CAST(sum(CASE WHEN NOT coalesce(
        |                  valid_to IS NULL OR valid_to > valid_from, FALSE)
        |                THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT) FROM h
        |UNION ALL
        |SELECT 'predicate:current_iff_open',
        |       CAST(sum(CASE WHEN NOT coalesce(is_current =
        |                  CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END, FALSE)
        |                THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT) FROM h
        |UNION ALL
        |SELECT 'predicate:version_ge_1h',
        |       CAST(sum(CASE WHEN NOT coalesce(
        |                  valid_to IS NULL OR valid_to - valid_from >= 3600000000000,
        |                  FALSE) THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT) FROM h
        |UNION ALL
        |SELECT 'unique:user_id,valid_from',
        |       CAST(coalesce(sum(CASE WHEN cc > 1 THEN cc - 1 END), 0) AS BIGINT),
        |       CAST(coalesce(sum(cc), 0) AS BIGINT)
        |FROM (SELECT count(*) AS cc FROM h GROUP BY user_id, valid_from)
        |UNION ALL
        |SELECT 'ref:user_id->user_id',
        |       CAST(sum(CASE WHEN d.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(count(*) AS BIGINT)
        |FROM (SELECT user_id FROM h WHERE user_id IS NOT NULL) l
        |LEFT JOIN (SELECT DISTINCT user_id FROM events) d USING (user_id)
        |) ORDER BY check_name""".stripMargin,
    "q_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 10
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q_quantile_bins" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |           FROM customer),
        |w AS (SELECT c_custkey, c_nationkey, cents,
        |        count(cents) OVER (PARTITION BY c_nationkey
        |                           ORDER BY cents, c_custkey
        |                           ROWS BETWEEN UNBOUNDED PRECEDING
        |                             AND CURRENT ROW) AS rn,
        |        count(cents) OVER (PARTITION BY c_nationkey) AS n
        |      FROM c)
        |SELECT c_custkey, c_nationkey, cents,
        |       CASE WHEN cents IS NOT NULL
        |            THEN CAST((10 * (rn - 1)) // n + 1 AS BIGINT) END AS bucket
        |FROM w ORDER BY c_custkey""".stripMargin,
    "q_contingency" ->
      """WITH e AS (SELECT event_type AS a, user_id % 7 AS b FROM events
        |           WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |cells AS (SELECT a, b, count(*) AS o FROM e GROUP BY 1, 2),
        |ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
        |cb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY 1),
        |n AS (SELECT sum(o) AS n FROM cells)
        |SELECT cells.a, cells.b, CAST(o AS BIGINT) AS o,
        |       CAST(ra.ra AS BIGINT) AS ra, CAST(cb.cb AS BIGINT) AS cb,
        |       CAST(n.n AS BIGINT) AS n
        |FROM cells JOIN ra USING (a) JOIN cb USING (b), n
        |ORDER BY a, b""".stripMargin,
    "q_qsketch_registers" -> duckQsketchRegistersSql,
    // shard-merge ≡ full: the oracle for the merged build IS the
    // single-pass full build
    "q_qsketch_merge" -> duckQsketchRegistersSql,
    "q_qsketch_quantiles" ->
      """WITH c AS (SELECT l_returnflag AS k,
        |             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
        |           FROM lineitem),
        |f AS (SELECT k, v FROM c WHERE v IS NOT NULL AND v >= 0),
        |b AS (SELECT k, CASE WHEN v < 16 THEN v
        |                ELSE (length(bin(v)) - 5) * 16 + (v >> (length(bin(v)) - 5))
        |                END AS bin
        |      FROM f),
        |r AS (SELECT k, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
        |w AS (SELECT k, bin, cnt,
        |        sum(cnt) OVER (PARTITION BY k ORDER BY bin
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cw,
        |        sum(cnt) OVER (PARTITION BY k) AS tw
        |      FROM r),
        |q AS (SELECT k,
        |        min(CASE WHEN cw >= (50 * tw + 99) // 100 THEN bin END) AS b50,
        |        min(CASE WHEN cw >= (90 * tw + 99) // 100 THEN bin END) AS b90,
        |        min(CASE WHEN cw >= (99 * tw + 99) // 100 THEN bin END) AS b99
        |      FROM w GROUP BY k)
        |SELECT k AS l_returnflag,
        |  CAST(CASE WHEN b50 < 16 THEN b50
        |       ELSE (b50 % 16 + 16) << (b50 // 16 - 1) END AS BIGINT) AS q50,
        |  CAST(CASE WHEN b90 < 16 THEN b90
        |       ELSE (b90 % 16 + 16) << (b90 // 16 - 1) END AS BIGINT) AS q90,
        |  CAST(CASE WHEN b99 < 16 THEN b99
        |       ELSE (b99 % 16 + 16) << (b99 // 16 - 1) END AS BIGINT) AS q99
        |FROM q ORDER BY l_returnflag""".stripMargin,
    "q_rfm" ->
      """WITH o AS (SELECT o_custkey, epoch_ms(o_orderdate) AS t_ms,
        |             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |a AS (SELECT o_custkey, max(t_ms) AS last_ms, count(*) AS f,
        |             sum(cents) AS m_cents FROM o GROUP BY 1),
        |r AS (SELECT a.o_custkey, (m.mx - a.last_ms) // 86400000 AS r_days,
        |             a.f, a.m_cents
        |      FROM a, (SELECT max(t_ms) AS mx FROM o) m),
        |s AS (SELECT *, row_number() OVER (ORDER BY r_days, o_custkey) AS rr,
        |             row_number() OVER (ORDER BY f DESC, o_custkey) AS rf,
        |             row_number() OVER (ORDER BY m_cents DESC, o_custkey) AS rm,
        |             count(*) OVER () AS n
        |      FROM r)
        |SELECT o_custkey, CAST(r_days AS BIGINT) AS r_days,
        |       CAST(f AS BIGINT) AS f, CAST(m_cents AS BIGINT) AS m_cents,
        |       CAST(5 - (5 * (rr - 1)) // n AS INT) AS r_score,
        |       CAST(5 - (5 * (rf - 1)) // n AS INT) AS f_score,
        |       CAST(5 - (5 * (rm - 1)) // n AS INT) AS m_score
        |FROM s ORDER BY o_custkey""".stripMargin,
    "q_abc" ->
      """WITH rev AS (SELECT l_partkey,
        |               CAST(sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |                    AS BIGINT) AS rev
        |             FROM lineitem GROUP BY 1),
        |r AS (SELECT l_partkey, rev,
        |        row_number() OVER (ORDER BY rev DESC, l_partkey) AS rnk,
        |        sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum,
        |        sum(rev) OVER () AS tot
        |      FROM rev)
        |SELECT l_partkey, rev, CAST(rnk AS BIGINT) AS rnk,
        |       CAST(cum AS BIGINT) AS cum,
        |       CASE WHEN cum * 100 <= tot * 80 THEN 'A'
        |            WHEN cum * 100 <= tot * 95 THEN 'B' ELSE 'C' END AS cls
        |FROM r ORDER BY l_partkey""".stripMargin,
    "q_global_median" ->
      """WITH c AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        |           FROM lineitem),
        |o AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rnk FROM c),
        |n AS (SELECT count(*) AS n FROM c)
        |SELECT CAST(min(cents) AS BIGINT) AS med_lo,
        |       CAST(max(cents) AS BIGINT) AS med_hi
        |FROM o, n WHERE rnk = (n + 1) // 2 OR rnk = (n + 2) // 2""".stripMargin,
    "q_percentile_cont" ->
      """WITH c AS (SELECT c_nationkey AS k,
        |             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v
        |           FROM customer WHERE c_acctbal IS NOT NULL),
        |w AS (SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) AS rn,
        |             count(*) OVER (PARTITION BY k) AS n FROM c),
        |a AS (SELECT k,
        |        max(CASE WHEN rn = (25 * (n-1)) // 100 + 1 THEN v END) AS lo25,
        |        max(CASE WHEN rn = (25 * (n-1)) // 100 + 2 THEN v END) AS hi25,
        |        max((25 * (n-1)) % 100) AS f25,
        |        max(CASE WHEN rn = (50 * (n-1)) // 100 + 1 THEN v END) AS lo50,
        |        max(CASE WHEN rn = (50 * (n-1)) // 100 + 2 THEN v END) AS hi50,
        |        max((50 * (n-1)) % 100) AS f50,
        |        max(CASE WHEN rn = (75 * (n-1)) // 100 + 1 THEN v END) AS lo75,
        |        max(CASE WHEN rn = (75 * (n-1)) // 100 + 2 THEN v END) AS hi75,
        |        max((75 * (n-1)) % 100) AS f75
        |      FROM w GROUP BY k)
        |SELECT k AS c_nationkey,
        |       CAST(100 * lo25 + f25 * (coalesce(hi25, lo25) - lo25) AS BIGINT)
        |         AS p25_x100,
        |       CAST(100 * lo50 + f50 * (coalesce(hi50, lo50) - lo50) AS BIGINT)
        |         AS p50_x100,
        |       CAST(100 * lo75 + f75 * (coalesce(hi75, lo75) - lo75) AS BIGINT)
        |         AS p75_x100
        |FROM a ORDER BY c_nationkey""".stripMargin,
    "q_weighted_percentiles" ->
      """WITH c AS (SELECT c_nationkey AS k,
        |             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v,
        |             c_custkey % 5 + 1 AS w
        |           FROM customer WHERE c_acctbal IS NOT NULL),
        |r AS (SELECT k, v,
        |        sum(w) OVER (PARTITION BY k ORDER BY v
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cw,
        |        sum(w) OVER (PARTITION BY k) AS tw
        |      FROM c)
        |SELECT k AS c_nationkey,
        |       CAST(min(CASE WHEN cw >= (50 * tw + 99) // 100 THEN v END)
        |            AS BIGINT) AS p50,
        |       CAST(min(CASE WHEN cw >= (90 * tw + 99) // 100 THEN v END)
        |            AS BIGINT) AS p90
        |FROM r GROUP BY k ORDER BY c_nationkey""".stripMargin,
    "q_histogram" ->
      """WITH c AS (SELECT l_returnflag AS k, CAST(l_quantity AS BIGINT) AS v
        |           FROM lineitem),
        |f AS (SELECT k, v FROM c WHERE v IS NOT NULL AND v BETWEEN 1 AND 60),
        |cnt AS (SELECT k, ((v - 1) * 12) // 60 AS bucket, count(*) AS c
        |        FROM f GROUP BY 1, 2),
        |grid AS (SELECT k, unnest(generate_series(0, 11)) AS bucket
        |         FROM (SELECT DISTINCT k FROM c))
        |SELECT grid.k AS l_returnflag, CAST(grid.bucket AS BIGINT) AS bucket,
        |       CAST(coalesce(cnt.c, 0) AS BIGINT) AS cnt
        |FROM grid LEFT JOIN cnt ON grid.k = cnt.k AND grid.bucket = cnt.bucket
        |ORDER BY l_returnflag, bucket""".stripMargin,
    "q_datasheet" ->
      s"""SELECT stat, value FROM (
         |  SELECT 'n_docs' AS stat, CAST(count(*) AS BIGINT) AS value FROM documents
         |  UNION ALL SELECT 'n_langs', count(DISTINCT lang) FROM documents
         |  UNION ALL SELECT 'n_sources', count(DISTINCT source) FROM documents
         |  UNION ALL SELECT 'docs_lang_' || lang, count(*) FROM documents GROUP BY lang
         |  UNION ALL SELECT 'docs_src_' || source, count(*) FROM documents GROUP BY source
         |  UNION ALL SELECT 'exact_dup_docs',
         |    count(*) - count(DISTINCT ${duckMd5_60("text")}) FROM documents
         |  UNION ALL SELECT 'total_chars', CAST(sum(n_chars) AS BIGINT) FROM documents
         |  UNION ALL SELECT 'mean_chars_x100',
         |    (CAST(sum(n_chars) AS BIGINT) * 100) // count(*) FROM documents
         |) ORDER BY stat""".stripMargin,
    "q_twa" ->
      """WITH e AS (SELECT event_type, event_id, epoch_ns(ts) // 1000000000 AS t,
        |             CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
        |l AS (SELECT *, lead(t) OVER (PARTITION BY event_type
        |                              ORDER BY t, event_id) AS nt FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(c * coalesce(nt - t, 0)) AS BIGINT) AS twa_num,
        |       CAST(max(t) - min(t) AS BIGINT) AS span
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_interval_union" ->
      """WITH iv AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS s,
        |              epoch_ns(ts) // 1000000000 + 7200 AS e FROM events),
        |m AS (SELECT *, CASE WHEN s > coalesce(max(e) OVER (
        |          PARTITION BY user_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          -9223372036854775808) THEN 1 ELSE 0 END AS ni FROM iv),
        |m2 AS (SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM m),
        |g AS (SELECT user_id, isl, min(s) AS a, max(e) AS b FROM m2 GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(b - a) AS BIGINT) AS covered,
        |       CAST(count(*) AS BIGINT) AS n_islands
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_ols" ->
      """WITH b AS (SELECT l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS x,
        |             CAST(ROUND(l_extendedprice) AS BIGINT) AS y FROM lineitem)
        |SELECT rf, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS slope_num,
        |       CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS slope_den
        |FROM b GROUP BY rf ORDER BY rf""".stripMargin,
    "q_mode" ->
      """WITH c AS (SELECT l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS v,
        |             count(*) AS n
        |           FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY rf
        |                                   ORDER BY n DESC, v ASC) AS rn FROM c)
        |SELECT rf, v AS mode, CAST(n AS BIGINT) AS mode_n
        |FROM r WHERE rn = 1 ORDER BY rf""".stripMargin,
    "q_robust_z" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        |w1 AS (SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY cents) AS rn,
        |         count(*) OVER (PARTITION BY c_nationkey) AS n FROM c),
        |m1 AS (SELECT c_nationkey,
        |         max(CASE WHEN rn = (50 * n + 99) // 100 THEN cents END) AS med
        |       FROM w1 GROUP BY c_nationkey),
        |d AS (SELECT c.*, m1.med, abs(c.cents - m1.med) AS ad
        |      FROM c JOIN m1 USING (c_nationkey)),
        |w2 AS (SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY ad) AS rn,
        |         count(*) OVER (PARTITION BY c_nationkey) AS n FROM d),
        |m2 AS (SELECT c_nationkey,
        |         max(CASE WHEN rn = (50 * n + 99) // 100 THEN ad END) AS mad
        |       FROM w2 GROUP BY c_nationkey)
        |SELECT d.c_custkey, d.c_nationkey, d.cents, d.med, m2.mad,
        |       CAST(CASE WHEN d.ad > 1 * m2.mad THEN 1 ELSE 0 END AS INT) AS flag
        |FROM d JOIN m2 USING (c_nationkey) ORDER BY d.c_custkey""".stripMargin,
    "q_minmax_scale" ->
      """WITH l AS (SELECT l_orderkey, l_linenumber, l_returnflag AS rf,
        |             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        |           FROM lineitem),
        |b AS (SELECT *, min(cents) OVER (PARTITION BY rf) AS mn,
        |        max(cents) OVER (PARTITION BY rf) AS mx FROM l)
        |SELECT l_orderkey, l_linenumber, cents,
        |       CAST(CASE WHEN mx = mn THEN 0
        |                 ELSE ((cents - mn) * 10000) // (mx - mn) END AS BIGINT) AS v_s
        |FROM b ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_corr_stats" ->
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |             CAST(ROUND(l_extendedprice) AS BIGINT) AS price_u,
        |             CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_c,
        |             CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_c
        |           FROM lineitem)
        |SELECT 'qty' AS col_x, 'price_u' AS col_y, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(qty) AS BIGINT) AS sx, CAST(sum(price_u) AS BIGINT) AS sy,
        |       CAST(sum(qty * price_u) AS BIGINT) AS sxy,
        |       CAST(sum(qty * qty) AS BIGINT) AS sx2,
        |       CAST(sum(price_u * price_u) AS BIGINT) AS sy2 FROM b
        |UNION ALL
        |SELECT 'qty', 'disc_c', CAST(count(*) AS BIGINT), CAST(sum(qty) AS BIGINT),
        |       CAST(sum(disc_c) AS BIGINT), CAST(sum(qty * disc_c) AS BIGINT),
        |       CAST(sum(qty * qty) AS BIGINT), CAST(sum(disc_c * disc_c) AS BIGINT) FROM b
        |UNION ALL
        |SELECT 'qty', 'tax_c', CAST(count(*) AS BIGINT), CAST(sum(qty) AS BIGINT),
        |       CAST(sum(tax_c) AS BIGINT), CAST(sum(qty * tax_c) AS BIGINT),
        |       CAST(sum(qty * qty) AS BIGINT), CAST(sum(tax_c * tax_c) AS BIGINT) FROM b
        |UNION ALL
        |SELECT 'price_u', 'disc_c', CAST(count(*) AS BIGINT), CAST(sum(price_u) AS BIGINT),
        |       CAST(sum(disc_c) AS BIGINT), CAST(sum(price_u * disc_c) AS BIGINT),
        |       CAST(sum(price_u * price_u) AS BIGINT), CAST(sum(disc_c * disc_c) AS BIGINT) FROM b
        |UNION ALL
        |SELECT 'price_u', 'tax_c', CAST(count(*) AS BIGINT), CAST(sum(price_u) AS BIGINT),
        |       CAST(sum(tax_c) AS BIGINT), CAST(sum(price_u * tax_c) AS BIGINT),
        |       CAST(sum(price_u * price_u) AS BIGINT), CAST(sum(tax_c * tax_c) AS BIGINT) FROM b
        |UNION ALL
        |SELECT 'disc_c', 'tax_c', CAST(count(*) AS BIGINT), CAST(sum(disc_c) AS BIGINT),
        |       CAST(sum(tax_c) AS BIGINT), CAST(sum(disc_c * tax_c) AS BIGINT),
        |       CAST(sum(disc_c * disc_c) AS BIGINT), CAST(sum(tax_c * tax_c) AS BIGINT) FROM b""".stripMargin,
    "q_percentiles" ->
      """WITH c AS (SELECT c_nationkey,
        |             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v FROM customer),
        |w AS (SELECT c_nationkey, v,
        |        row_number() OVER (PARTITION BY c_nationkey ORDER BY v) AS rn,
        |        count(*) OVER (PARTITION BY c_nationkey) AS n
        |      FROM c)
        |SELECT c_nationkey,
        |  max(CASE WHEN rn = (25 * n + 99) // 100 THEN v END) AS p25,
        |  max(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS p50,
        |  max(CASE WHEN rn = (90 * n + 99) // 100 THEN v END) AS p90,
        |  max(CASE WHEN rn = (99 * n + 99) // 100 THEN v END) AS p99
        |FROM w GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_zorder" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(${graft.ops.Layout.zOrderSql(Seq("l_partkey", "l_suppkey"), 16)} AS BIGINT) AS zval
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag AS rf,
        |       CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS INT) END) AS BIGINT) AS F_sq,
        |       CAST(count(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS F_n,
        |       CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS INT) END) AS BIGINT) AS O_sq,
        |       CAST(count(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS O_n
        |FROM lineitem GROUP BY l_returnflag ORDER BY rf""".stripMargin,
    "q_unpivot" ->
      """SELECT o_orderkey, metric, v FROM (
        |  SELECT o_orderkey, 'price_cents' AS metric,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'custkey', o_custkey FROM orders)
        |ORDER BY o_orderkey, metric""".stripMargin,
  )
}
