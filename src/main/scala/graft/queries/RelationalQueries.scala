package graft
package queries

import graft.functions.Abi
import graft.operators.{AsOfJoin, EventViews}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** evm-archive and relational queries: TPC-H-shaped aggregation, joins
  * and windows, the ABI codec, event views, and the ingest/tombstone/JDBC/
  * price/snapshot write paths. */
object RelationalQueries {

  private val TransferSig =
    "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"

  /** Synthetic Transfer logs derived deterministically from `customer`
    * — lets the DuckDB oracle reproduce the decoded values without any
    * hex machinery (encode(x) then decode == x). */
  private def syntheticTransferLogs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer").select(
      format_string("0x%040x", col("c_nationkey")).as("address"),
      lit(TransferSig).as("topic0"),
      format_string("0x%064x", col("c_custkey")).as("topic1"),
      format_string("0x%064x", col("c_custkey") * 7).as("topic2"),
      lit(null).cast(StringType).as("topic3"),
      format_string("0x%064x", col("c_custkey") * 31).as("data"),
      format_string("0xb%x", col("c_custkey")).as("block_hash"),
      col("c_custkey").as("block_number"),
      format_string("0xt%x", col("c_custkey")).as("transaction_hash"),
      lit(0L).as("transaction_index"),
      lit(0L).as("log_index"),
      lit(false).as("removed"),
      lit(null).cast(TimestampType).as("block_timestamp"))

  def all: Seq[QueryDef] = Seq(

    // A2/A3 grouped aggregation with partial-agg split (TPC-H Q1 shape)
    QueryDef("q01_agg_pricing_summary", { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(BigDecimal(1)) - col("l_discount").cast(DecimalType(4, 2)))).cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """select l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty,
        |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as sum_base_price,
        |  cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(4,2)))) as double) as sum_disc_price,
        |  count(*) as count_order
        |from lineitem
        |group by l_returnflag, l_linestatus
        |order by l_returnflag, l_linestatus""".stripMargin),

    // P4-P6 filter + projection, pushed to the parquet scan
    QueryDef("q02_filter_project", { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1996-01-01").cast(TimestampType) &&
          col("l_quantity") < 25)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """select l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |from lineitem
        |where l_shipdate >= timestamp '1995-01-01'
        |  and l_shipdate < timestamp '1996-01-01'
        |  and l_quantity < 25
        |order by l_orderkey, l_linenumber""".stripMargin),

    // J2 equi-joins (broadcast dim + shuffle fact) feeding a grouped agg
    QueryDef("q03_join_agg_revenue", { (s, dir) =>
      val c = broadcast(Tables(s, dir, "customer"))
      val o = Tables(s, dir, "orders")
      val l = Tables(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(BigDecimal(1)) - col("l_discount").cast(DecimalType(4, 2)))).cast(DoubleType).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    },
      """select c_mktsegment,
        |  cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(4,2)))) as double) as revenue,
        |  count(distinct o_orderkey) as n_orders
        |from lineitem
        |join orders on l_orderkey = o_orderkey
        |join customer on o_custkey = c_custkey
        |group by c_mktsegment
        |order by c_mktsegment""".stripMargin),

    // O1 top-k: TakeOrderedAndProject, no full sort at scale
    QueryDef("q04_topk_orders", { (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },
      """select o_orderkey, o_custkey, o_totalprice, o_orderdate
        |from orders
        |order by o_totalprice desc, o_orderkey
        |limit 10""".stripMargin),

    // A2 distinct aggregation
    QueryDef("q05_distinct_parts", { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag"))
    },
      """select l_returnflag,
        |  count(distinct l_partkey) as n_parts,
        |  count(distinct l_suppkey) as n_supps
        |from lineitem
        |group by l_returnflag
        |order by l_returnflag""".stripMargin),

    // §2.5 window functions: row_number + running sum
    QueryDef("q06_window_order_seq", { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast(LongType).as("rn"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType).as("running_total"))
        .orderBy(col("o_custkey"), col("rn"))
    },
      """select o_custkey, o_orderkey,
        |  cast(row_number() over w as bigint) as rn,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) over (
        |    partition by o_custkey order by o_orderdate, o_orderkey
        |    rows between unbounded preceding and current row) as double) as running_total
        |from orders
        |window w as (partition by o_custkey order by o_orderdate, o_orderkey)
        |order by o_custkey, rn""".stripMargin),

    // §2.7 set operations: intersect / except over key sets
    QueryDef("q07_set_ops_nations", { (s, dir) =>
      val cn = Tables(s, dir, "customer").select(col("c_nationkey").as("key")).distinct()
      val sn = Tables(s, dir, "supplier").select(col("s_nationkey").as("key")).distinct()
      cn.intersect(sn).withColumn("tag", lit("both"))
        .unionByName(cn.except(sn).withColumn("tag", lit("cust_only")))
        .select(col("tag"), col("key"))
        .orderBy(col("tag"), col("key"))
    },
      """with cn as (select distinct c_nationkey as key from customer),
        |     sn as (select distinct s_nationkey as key from supplier)
        |select 'both' as tag, key from (select key from cn intersect select key from sn)
        |union all
        |select 'cust_only' as tag, key from (select key from cn except select key from sn)
        |order by tag, key""".stripMargin),

    // J2 semi/anti joins (EXISTS / NOT EXISTS)
    QueryDef("q08_semi_anti", { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val l = Tables(s, dir, "lineitem")
      val semi = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n_with_items"))
      val anti = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_without_items"))
      semi.crossJoin(anti)
    },
      """select
        |  (select count(*) from orders where exists
        |    (select 1 from lineitem where l_orderkey = o_orderkey)) as n_with_items,
        |  (select count(*) from orders where not exists
        |    (select 1 from lineitem where l_orderkey = o_orderkey)) as n_without_items""".stripMargin),

    // A2 hierarchical rollup over the region/nation dimension
    QueryDef("q09_rollup_geo", { (s, dir) =>
      val r = Tables(s, dir, "region")
      val n = Tables(s, dir, "nation")
      val c = Tables(s, dir, "customer")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast(DoubleType).as("acctbal_sum"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    },
      """select r_name, n_name, count(*) as n_cust,
        |  cast(sum(cast(c_acctbal as decimal(18,2))) as double) as acctbal_sum
        |from customer
        |join nation on c_nationkey = n_nationkey
        |join region on n_regionkey = r_regionkey
        |group by rollup(r_name, n_name)
        |order by r_name nulls first, n_name nulls first""".stripMargin),

    // J1 as-of join: latest click at-or-before each purchase, per user
    QueryDef("q10_asof_join", { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_event_id"), col("ts").as("click_ts"))
      AsOfJoin.asOf(purchases, clicks, Seq("user_id"), "ts", "ts",
          valueCols = Seq("click_event_id", "click_ts"))
        // timestamp_ntz: parquet TIMESTAMP(adjusted=false) — naive like
        // DuckDB's TIMESTAMP, so the driver sees datetime64[us] on both
        // sides (an instant-typed column writes adjusted=true → pandas
        // reads tz-aware → dtype mismatch vs the naive oracle)
        .select(col("event_id"), col("user_id"), col("click_event_id"),
          col("click_ts").cast("timestamp_ntz").as("click_ts"))
        .orderBy(col("event_id"))
    },
      """select p.event_id, p.user_id,
        |  c.event_id as click_event_id, c.ts as click_ts
        |from (select * from events where event_type = 'purchase') p
        |asof left join (select * from events where event_type = 'click') c
        |  on p.user_id = c.user_id and c.ts <= p.ts
        |order by p.event_id""".stripMargin),

    // F1-F22 codec round-trip: encode keys as ABI words in Spark,
    // decode with the library; oracle passes the keys through.
    QueryDef("q11_abi_roundtrip", { (s, dir) =>
      val word = (c: Column) => concat(lit("0x"), lpad(lower(hex(c)), 64, "0"))
      // sign-extended int64 word: top 48 hex chars follow the sign
      val signedWord = (c: Column) => concat(
        lit("0x"),
        when(c < 0, lit("f" * 48)).otherwise(lit("0" * 48)),
        format_string("%016x", c))
      Tables(s, dir, "orders")
        .select(
          col("o_orderkey"),
          Abi.toUint64(2, word(col("o_orderkey"))).cast(LongType).as("decoded_key"),
          Abi.toUint32(2, word(col("o_custkey"))).as("decoded_cust"),
          Abi.toInt64(2, signedWord(col("o_custkey") - 700)).as("decoded_signed"),
          Abi.toAddress(2, word(col("o_custkey"))).as("cust_addr"),
          Abi.toBool(2, word(col("o_custkey") % 2)).as("odd_cust"))
        .orderBy(col("o_orderkey"))
    },
      """select o_orderkey,
        |  o_orderkey as decoded_key,
        |  o_custkey as decoded_cust,
        |  o_custkey - 700 as decoded_signed,
        |  printf('0x%040x', o_custkey) as cust_addr,
        |  (o_custkey % 2 <> 0) as odd_cust
        |from orders
        |order by o_orderkey""".stripMargin),

    // P7/§2.9 the generated-view pipeline end-to-end over synthetic logs
    QueryDef("q12_transfer_view_pipeline", { (s, dir) =>
      val transferDef = EventViews.referenceViews
        .find(_.viewName.startsWith("Transfer")).get
      EventViews.project(syntheticTransferLogs(s, dir), transferDef)
        .groupBy(col("contract_address"))
        .agg(count(lit(1)).as("n_transfers"),
          sum(col("amount")).cast(DoubleType).as("total_amount"),
          max(col("to")).as("max_to_addr"))
        .orderBy(col("contract_address"))
    },
      """select printf('0x%040x', c_nationkey) as contract_address,
        |  count(*) as n_transfers,
        |  cast(sum(cast(c_custkey as decimal(38,0)) * 31) as double) as total_amount,
        |  max(printf('0x%040x', c_custkey * 7)) as max_to_addr
        |from customer
        |group by contract_address
        |order by contract_address""".stripMargin),

    // T1 tumbling block/time windows (batch rendering of the stream)
    QueryDef("q13_tumbling_windows", { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("total_value"))
        // timestamp_ntz for the same naive-vs-instant reason as q10
        .select(col("window.start").cast("timestamp_ntz").as("win_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("win_start"), col("event_type"))
    },
      """select time_bucket(interval '5 minutes', ts) as win_start, event_type,
        |  count(*) as n,
        |  cast(sum(cast(value as decimal(18,4))) as double) as total_value
        |from events
        |group by win_start, event_type
        |order by win_start, event_type""".stripMargin),

    // §2.7 multi-chain unionByName pattern (db-create.sql:1-10 deploys)
    QueryDef("q14_multichain_union", { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val a = ev.filter(col("event_id") % 2 === 0).withColumn("chain", lit("chain_a"))
      val b = ev.filter(col("event_id") % 2 === 1).withColumn("chain", lit("chain_b"))
      a.unionByName(b)
        .groupBy(col("chain"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("chain"), col("event_type"))
    },
      """select case when event_id % 2 = 0 then 'chain_a' else 'chain_b' end as chain,
        |  event_type, count(*) as n
        |from events
        |group by chain, event_type
        |order by chain, event_type""".stripMargin),

    // J1 proper: decoded Transfer events valued by the latest token
    // price at-or-before the event's block (logs × price, the
    // reference's implied schema.sql:68-81 contract)
    QueryDef("q27_price_asof_valuation", { (s, dir) =>
      val transferDef = EventViews.referenceViews
        .find(_.viewName.startsWith("Transfer")).get
      val transfers = EventViews.project(syntheticTransferLogs(s, dir), transferDef)
      // synthetic price series: every token gets a price point each
      // 100 blocks: (address, block_number, price)
      val price = Tables(s, dir, "nation").select(
        format_string("0x%040x", col("n_nationkey")).as("address"),
        explode(sequence(lit(0L), lit(1400L), lit(100L))).as("block_number"))
        .withColumn("price", (col("block_number") * 3 + length(col("address"))).cast(DecimalType(38, 0)))
      AsOfJoin.asOf(
          transfers.withColumnRenamed("contract_address", "address"),
          price, Seq("address"), "evt_block_number", "block_number",
          valueCols = Seq("price"))
        .select(col("address"), col("evt_block_number"),
          col("amount").cast(DoubleType).as("amount"),
          col("price").cast(DoubleType).as("price"),
          (col("amount") * col("price")).cast(DoubleType).as("value_usd"))
        .orderBy(col("address"), col("evt_block_number"))
    },
      """with t as (
        |  select printf('0x%040x', c_nationkey) as address,
        |         c_custkey as evt_block_number,
        |         c_custkey * 31 as amount
        |  from customer),
        |p as (
        |  select printf('0x%040x', n_nationkey) as address,
        |         unnest(generate_series(0, 1400, 100)) as block_number
        |  from nation),
        |pr as (select address, block_number,
        |         cast(block_number * 3 + length(address) as decimal(38,0)) as price from p)
        |select t.address, t.evt_block_number,
        |  cast(t.amount as double) as amount,
        |  cast(pr.price as double) as price,
        |  cast(t.amount * pr.price as double) as value_usd
        |from t asof left join pr
        |  on t.address = pr.address and pr.block_number <= t.evt_block_number
        |order by t.address, t.evt_block_number""".stripMargin),

    // F10-F15 dynamic ABI decode round-trip over MULTI-WORD payloads:
    // ABI-encode each document text (offset word | length word |
    // padded payload, up to ~18 words — all-ASCII corpus, so char
    // length == byte length) in Spark expressions, decode with the
    // library; oracle passes the text through untouched
    QueryDef("q28_abi_dynamic_roundtrip", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          lower(hex(col("text"))).as("_h"))
        .select(col("doc_id"), col("text"),
          concat(
            lit("0x"),
            lit("0" * 62 + "20"),
            format_string("%064x", length(col("text"))),
            expr("rpad(_h, ((length(_h) + 63) div 64) * 64, '0')")).as("_data"))
        .select(col("doc_id"),
          Abi.toString(2, col("_data")).as("decoded_text"),
          Abi.toSize(2, col("_data")).as("decoded_len"),
          (Abi.toBytes(2, col("_data")) === concat(lit("0x"), lower(hex(col("text"))))).as("bytes_ok"))
        .orderBy(col("doc_id"))
    },
      """select doc_id, text as decoded_text,
        |  length(text) as decoded_len, true as bytes_ok
        |from documents
        |order by doc_id""".stripMargin),

    // A2 cube: all grouping-set combinations over two dimensions
    QueryDef("q29_cube_status_priority", { (s, dir) =>
      Tables(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    },
      """select o_orderstatus, o_orderpriority, count(*) as n,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total
        |from orders
        |group by cube(o_orderstatus, o_orderpriority)
        |order by o_orderstatus nulls first, o_orderpriority nulls first""".stripMargin),

    // F14/F19 oracle: fixed-bytes slice (with the reference's
    // rtrim-'0' quirk) and a dynamic-array decode. The array head
    // (location/size words) is STAGED as named columns so the
    // transform lambda only references attributes (HOF staging rule);
    // the output is the comma-joined string form — the driver's
    // pandas comparator can't sort raw arrays (native ArrayType is
    // exercised in AbiSpec).
    QueryDef("q31_abi_fixed_and_array", { (s, dir) =>
      val w = (c: Column) => format_string("%064x", c)
      val (base, n) = Abi.arrayHead(lit(2), col("_arr"))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          // bytes8 value left-aligned in the word
          concat(lit("0x"), rpad(lower(hex(col("o_custkey"))), 64, "0")).as("_fb"),
          // dynamic uint array [k, 2k, 3k]: offset | len | elements
          concat(lit("0x"), lit("0" * 62 + "20"), lit("0" * 63 + "3"),
            w(col("o_custkey")), w(col("o_custkey") * 2), w(col("o_custkey") * 3)).as("_arr"))
        .select(col("o_orderkey"), col("_fb"), col("_arr"),
          base.as("_base"), n.as("_n"))
        .select(col("o_orderkey"),
          Abi.toFixedBytes(2, col("_fb"), 8).as("fixed_bytes"),
          array_join(
            Abi.toArrayFrom(col("_base"), col("_n"), col("_arr"), "uint64")
              .cast(ArrayType(StringType)), ",")
            .as("decoded_array"))
        .orderBy(col("o_orderkey"))
    },
      """select o_orderkey,
        |  '0x' || rtrim(substr(rpad(printf('%x', o_custkey), 64, '0'), 1, 16), '0') as fixed_bytes,
        |  array_to_string([o_custkey, o_custkey * 2, o_custkey * 3], ',') as decoded_array
        |from orders
        |order by o_orderkey""".stripMargin),

    // S1/S5/P1-P3/T3 end-to-end under the gate: synthesize a wire
    // NDJSON capture (fixture format per curl-get-logs-moonbeam-loop
    // .sh) deterministically from `orders`, replay it through
    // readNdjson → fromWire → appendIdempotent TWICE (the second
    // append must be a PK DO-NOTHING no-op or row counts diverge from
    // the oracle), read the stored table back. The DuckDB twin derives
    // the same analytic rows from `orders` in pure SQL.
    QueryDef("q32_ingest_roundtrip", { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q32").toString
      Tables(s, dir, "orders").select(
        to_json(struct(
          format_string("0x%040x", col("o_custkey")).as("address"),
          array(lit(TransferSig), format_string("0x%064x", col("o_custkey"))).as("topics"),
          // every 10th record carries the empty "0x" payload → must
          // land as NULL (get_logs.go:44-46)
          when(col("o_orderkey") % 10 === 0, lit("0x"))
            .otherwise(format_string("0x%064x", col("o_orderkey") * 3)).as("data"),
          format_string("0xb%x", col("o_orderkey")).as("blockHash"),
          format_string("0x%x", col("o_orderkey")).as("blockNumber"),
          format_string("0xt%x", col("o_orderkey")).as("transactionHash"),
          lit("0x0").as("transactionIndex"),
          format_string("0x%x", col("o_orderkey") % 7).as("logIndex"),
          lit(false).as("removed"))).as("j"))
        .write.mode("overwrite").text(s"$work/wire")
      val batch = graft.sources.Logs.readNdjson(s, s"$work/wire")
      graft.sources.Logs.appendIdempotent(s, batch, s"$work/logs")
      graft.sources.Logs.appendIdempotent(s, batch, s"$work/logs")
      graft.sources.Logs.read(s, s"$work/logs")
        .select(col("address"), col("topic0"), col("topic1"), col("data"),
          col("block_number"), col("transaction_hash"),
          col("transaction_index"), col("log_index"), col("removed"))
        .orderBy(col("block_number"))
    },
      (s"""select printf('0x%040x', o_custkey) as address,
        |  '$TransferSig' as topic0,
        |  printf('0x%064x', o_custkey) as topic1,
        |  case when o_orderkey % 10 = 0 then null
        |       else printf('0x%064x', o_orderkey * 3) end as data,
        |  o_orderkey as block_number,
        |  printf('0xt%x', o_orderkey) as transaction_hash,
        |  cast(0 as bigint) as transaction_index,
        |  o_orderkey % 7 as log_index,
        |  false as removed
        |from orders
        |order by block_number""".stripMargin),
      tags = Set(Tag.Io)),

    // S4/A1 under the gate: ingest an orders-derived batch, then BOTH
    // resume probes — highWaterMark (pruned to the max block_range
    // directory, main.go:169 semantics) and the full-table
    // agg(max(block_number)) — must equal the oracle's max
    QueryDef("q43_hwm_resume", { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q43").toString
      val batch = Tables(s, dir, "orders").filter(col("o_orderkey") % 3 === 1).select(
        format_string("0x%040x", col("o_custkey")).as("address"),
        lit(TransferSig).as("topic0"),
        format_string("0x%064x", col("o_custkey")).as("topic1"),
        lit(null).cast(StringType).as("topic2"),
        lit(null).cast(StringType).as("topic3"),
        format_string("0x%064x", col("o_orderkey") * 3).as("data"),
        format_string("0xb%x", col("o_orderkey")).as("block_hash"),
        col("o_orderkey").as("block_number"),
        format_string("0xt%x", col("o_orderkey")).as("transaction_hash"),
        lit(0L).as("transaction_index"),
        (col("o_orderkey") % 7).as("log_index"),
        lit(false).as("removed"),
        lit(null).cast(TimestampType).as("block_timestamp"))
      graft.sources.Logs.appendIdempotent(s, batch, s"$work/logs")
      val hwm = graft.sources.Logs.highWaterMark(s, s"$work/logs")
      graft.sources.Logs.read(s, s"$work/logs")
        .agg(max(col("block_number")).as("max_block"))
        .select(lit(hwm).as("hwm"), col("max_block"))
    },
      """select cast(max(o_orderkey) as bigint) as hwm,
        |  cast(max(o_orderkey) as bigint) as max_block
        |from orders
        |where o_orderkey % 3 = 1""".stripMargin),

    // S6 under the gate: price-probe wire capture → fromWire →
    // idempotent append TWICE (the second must DO-NOTHING) → read
    // back; the oracle derives the same rows from orders in SQL
    QueryDef("q44_price_roundtrip", { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q44").toString
      val wire = Tables(s, dir, "orders").select(
        format_string("0x%040x", col("o_custkey")).as("token"),
        format_string("0x%x", col("o_orderkey")).as("blockNumber"),
        format_string("0x%064x", col("o_orderkey") * 5).as("result"))
      val batch = graft.sources.Price.fromWire(wire)
      graft.sources.Price.appendIdempotent(s, batch, s"$work/price")
      graft.sources.Price.appendIdempotent(s, batch, s"$work/price")
      s.read.parquet(s"$work/price")
        .select(col("address"), col("block_number"),
          col("price").cast(DoubleType).as("price"))
        .orderBy(col("block_number"))
    },
      """select printf('0x%040x', o_custkey) as address,
        |  o_orderkey as block_number,
        |  cast(o_orderkey * 5 as double) as price
        |from orders
        |order by block_number""".stripMargin,
      tags = Set(Tag.Io)),

    // The block_timestamp backfill extension under the gate: header
    // timestamps (12 s/block from a fixed genesis — what the mock
    // node serves and the oracle derives) joined onto Transfer logs
    // via withBlockTimestamps, then THE analyst query the reference
    // can't answer (its loader never fills the column,
    // get_logs.go:118-119): transfers grouped by block-hour
    QueryDef("q45_block_time_rollup", { (s, dir) =>
      val blocks = Tables(s, dir, "customer").select(
        col("c_custkey").as("block_number"),
        timestamp_seconds(lit(1600000000L) + col("c_custkey") * 12).as("block_timestamp"))
      val enriched = graft.sources.Logs.withBlockTimestamps(
        syntheticTransferLogs(s, dir), blocks)
      val transferDef = EventViews.referenceViews
        .find(_.viewName.startsWith("Transfer")).get
      EventViews.project(enriched, transferDef)
        .groupBy(date_trunc("hour", col("evt_block_time"))
          .cast("timestamp_ntz").as("block_hour"))
        .agg(count(lit(1)).as("n_transfers"),
          sum(col("amount")).cast(DoubleType).as("total_amount"))
        .orderBy(col("block_hour"))
    },
      """select date_trunc('hour',
        |    make_timestamp((1600000000 + c_custkey * 12) * 1000000)) as block_hour,
        |  count(*) as n_transfers,
        |  cast(sum(cast(c_custkey as decimal(38,0)) * 31) as double) as total_amount
        |from customer
        |group by block_hour
        |order by block_hour""".stripMargin),

    // S2 head probe + E1 catch-up planner under the gate: the head
    // round-trips through the wire shape ("0x%x" → strip prefix →
    // base-16 parse, exactly the eth_blockNumber result handling) and
    // the planner emits the [hwm+1, head] blockStep windows the ingest
    // loop walks (Rpc.ingestLoop). A parse bug shifts head and every
    // window bound; the twin computes head directly from the fixture.
    QueryDef("q52_head_window_plan", { (s, dir) =>
      Tables(s, dir, "orders")
        .agg(max(col("o_orderkey")).as("_h"))
        .select(conv(Abi.stripHexPrefix(format_string("0x%x", col("_h"))), 16, 10)
          .cast(LongType).as("head"))
        .select(col("head"), greatest(col("head") - 5000L, lit(0L)).as("hwm"))
        .select(col("head"),
          explode(sequence(col("hwm") + 1, col("head"), lit(1000L))).as("window_from"))
        .select(col("window_from"),
          least(col("window_from") + 999L, col("head")).as("window_to"),
          col("head"))
        .orderBy(col("window_from"))
    },
      // DuckDB's generate_series refuses lateral column bounds, so the
      // twin enumerates a constant window index (hwm = head-5000 caps
      // the plan at 5 windows by construction) and filters
      """with h as (select max(o_orderkey) as head from orders),
        | w as (select head, greatest(head - 5000, 0) as hwm from h)
        |select w.hwm + 1 + r.range * 1000 as window_from,
        |  least(w.hwm + 1000 + r.range * 1000, w.head) as window_to,
        |  w.head as head
        |from w cross join range(0, 6) r
        |where w.hwm + 1 + r.range * 1000 <= w.head
        |order by window_from""".stripMargin),

    // Per-chain catalog namespaces under the gate (r10 — the
    // db-create.sql:1-10 database-per-chain deploy as REAL Spark
    // catalog databases): synthetic transfer logs split even/odd
    // into two parquet "chains", each registered via
    // registerChainNamespace (external `<chain>.logs` table +
    // PERMANENT decode views through the builtin-registered function
    // surface), then one multi-chain aggregation over the QUALIFIED
    // view names — q14's union re-expressed the way the reference
    // deploys it.
    QueryDef("q94_chain_namespaces", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q94").getAbsolutePath
      val logs = syntheticTransferLogs(s, dir)
      logs.filter(col("block_number") % 2 === 0)
        .write.mode("overwrite").parquet(s"$base/chain_a_logs")
      logs.filter(col("block_number") % 2 === 1)
        .write.mode("overwrite").parquet(s"$base/chain_b_logs")
      // overwrite of a path this session may have read before —
      // FileStatusCache staleness contract
      s.catalog.refreshByPath(s"$base/chain_a_logs")
      s.catalog.refreshByPath(s"$base/chain_b_logs")
      EventViews.registerChainNamespace(s, "graft_chain_a", s"$base/chain_a_logs",
        dbLocation = Some(s"$base/db_a"))
      EventViews.registerChainNamespace(s, "graft_chain_b", s"$base/chain_b_logs",
        dbLocation = Some(s"$base/db_b"))
      val t = "Transfer_address_from_address_to_uint256_amount_d"
      s.sql(
        s"""select chain, count(*) as n_transfers,
           |  cast(sum(amount) as double) as total_amount,
           |  max(`to`) as to_max
           |from (
           |  select 'chain_a' as chain, amount, `to` from graft_chain_a.`$t`
           |  union all
           |  select 'chain_b' as chain, amount, `to` from graft_chain_b.`$t`
           |)
           |group by chain
           |order by chain""".stripMargin)
    },
      // chain-namespace twin: even/odd c_custkey split = the two chain
      // databases; amount/to recompute from the synthetic encoding
      // (the q37 arithmetic)
      """select case when c_custkey % 2 = 0 then 'chain_a' else 'chain_b' end as chain,
        |  count(*) as n_transfers,
        |  cast(sum(cast(c_custkey as decimal(38,0)) * 31) as double) as total_amount,
        |  max(printf('0x%040x', c_custkey * 7)) as to_max
        |from customer
        |group by chain
        |order by chain""".stripMargin,
      // writes two parquet chains + registers catalog databases per run
      tags = Set(Tag.Io)),

    // Derived event signatures under the gate (r10): keccak-256 of
    // each reference view's canonical Solidity signature recomputed
    // by the native [[graft.functions.Keccak256]] expression and
    // compared to the registry constant the reference hard-codes
    // (init.sql:213-222) — the topic0s become DERIVED facts. The
    // twin hard-codes the same public constants, so a permutation,
    // padding or lane-order bug in the sponge breaks the hash.
    QueryDef("q95_event_signatures", { (s, dir) =>
      import s.implicits._
      EventViews.referenceViews
        .map(e => (EventViews.canonicalSignature(e), e.sigHash))
        .toDF("signature", "registry_topic0")
        .select(
          col("signature"),
          graft.functions.Keccak.eventTopic(col("signature")).as("topic0"),
          (graft.functions.Keccak.eventTopic(col("signature")) === col("registry_topic0"))
            .as("matches_registry"),
          graft.functions.Keccak.selector(col("signature")).as("selector"))
        .orderBy(col("signature"))
    },
      // event-signature twin: the same ten public constants the
      // reference ships (init.sql:213-222) as a VALUES table; the
      // selector column re-derives as the topic prefix, so the twin
      // checks the 4-byte-prefix property too
      """with r(signature, topic0) as (values
        |  ('Approval(address,address,uint256)',
        |   '0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925'),
        |  ('AuthorityUpdated(address,address)',
        |   '0xa3396fd7f6e0a21b50e5089d2da70d5ac0a3bbbd1f617a93f134b76389980198'),
        |  ('Deposit(address,address,uint256,uint256)',
        |   '0xdcbc1c05240f31ff3ad067ef1ee35ce4997762752e3a095284754544f4c709d7'),
        |  ('FeePercentUpdated(address,uint256)',
        |   '0xec370615cc81fb334e5566fbc80664d9082377bf59288d64a79f3fbecf4323a9'),
        |  ('OwnershipTransferred(address,address)',
        |   '0x8be0079c531659141344cd1fd0a4f28419497f9722a3daafe3b4186f6b6457e0'),
        |  ('StrategyDeposit(address,uint256)',
        |   '0xc6f6f91a48277d76f232cc08a9a30f6b05b3fd9b92c3180c25936e17a22a1025'),
        |  ('StrategyWithdrawal(address,uint256)',
        |   '0xd5ad0f046bd35f48b421a3e575435de38cea1980177b1c6da935d2f26049f3fa'),
        |  ('TargetFloatPercentUpdated(address,uint256)',
        |   '0x95bc4480b51f4860106d42850bcae222cf3303fb2b7d433e896205e0ebefe369'),
        |  ('Transfer(address,address,uint256)',
        |   '0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef'),
        |  ('Withdraw(address,address,address,uint256,uint256)',
        |   '0xfbde797d201c681b91056529119e0b02407c7bb96a4a2c75c01fc9667232c8db'))
        |select signature, topic0, true as matches_registry,
        |  substring(topic0, 1, 10) as selector
        |from r
        |order by signature""".stripMargin),

    // Snapshot version diff (r15): manifest-planned row diff across an
    // ingest history — v0 commits a base, then an APPEND (new keys),
    // a CANONICALIZE tombstone rewrite (payload change on existing
    // keys) and a pure COMPACTION (files move, rows don't) land before
    // the next commit. The diff must report exactly the appended keys
    // as `added` and the tombstoned keys as `changed` — every row the
    // compaction merely moved between files compares equal and drops
    // out. The twin re-derives the expected statuses from the
    // fixture's key arithmetic.
    QueryDef("q133_snapshot_diff", { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q133").toString
      val orders = Tables(s, dir, "orders")
      def wire(rows: org.apache.spark.sql.DataFrame, removed: Boolean) =
        rows.select(to_json(struct(
          format_string("0x%040x", col("o_custkey")).as("address"),
          array(lit(TransferSig), format_string("0x%064x", col("o_custkey"))).as("topics"),
          format_string("0x%064x", col("o_orderkey") * 3).as("data"),
          format_string("0xb%x", col("o_orderkey")).as("blockHash"),
          format_string("0x%x", col("o_orderkey")).as("blockNumber"),
          format_string("0xt%x", col("o_orderkey")).as("transactionHash"),
          lit("0x0").as("transactionIndex"),
          format_string("0x%x", col("o_orderkey") % 7).as("logIndex"),
          lit(removed).as("removed"))).as("j"))
      val t = s"$work/logs"
      wire(orders.filter(col("o_orderkey") % 10 === 1), removed = false)
        .write.mode("overwrite").text(s"$work/w1")
      graft.sources.Logs.appendIdempotent(
        s, graft.sources.Logs.readNdjson(s, s"$work/w1"), t)
      val v0 = graft.sources.Snapshots.commit(s, t)
      wire(orders.filter(col("o_orderkey") % 10 === 2), removed = false)
        .write.mode("overwrite").text(s"$work/w2")
      graft.sources.Logs.appendIdempotent(
        s, graft.sources.Logs.readNdjson(s, s"$work/w2"), t)
      wire(orders.filter(col("o_orderkey") % 50 === 1), removed = true)
        .write.mode("overwrite").text(s"$work/w3")
      graft.sources.Logs.appendIdempotent(
        s, graft.sources.Logs.readNdjson(s, s"$work/w3"), t, canonicalize = true)
      graft.sources.Logs.compact(s, t)
      val v1 = graft.sources.Snapshots.commit(s, t)
      graft.sources.Snapshots.diff(s, t, v0, v1)
        .orderBy(col("block_hash"))
    },
      // snapshot-diff twin (r15): the appended keys (%10=2) read as
      // added, the canonicalize-tombstoned ones (%50=1, a subset of the
      // %10=1 base) as changed; everything the compaction merely moved
      // between files cancels out of the diff entirely.
      """with ks as (
        |  select o_orderkey as k,
        |    case when o_orderkey % 10 = 2 then 'added'
        |         when o_orderkey % 50 = 1 then 'changed' end as status
        |  from orders where o_orderkey % 10 in (1, 2))
        |select '0xb' || printf('%x', k) as block_hash,
        |  '0xt' || printf('%x', k) as transaction_hash,
        |  k % 7 as log_index, status
        |from ks where status is not null
        |order by block_hash""".stripMargin),

    // S5-JDBC under the gate: the idempotent JDBC sink against a real
    // embedded database (Derby, in /opt/spark/jars) — wire rows derive
    // from orders, append TWICE through the range-bounded anti-join
    // (the second must DO-NOTHING), read back over JDBC. The DuckDB
    // twin derives the same rows in SQL; a duplicate or a dropped row
    // anywhere in the sink path breaks the row count or the hash.
    QueryDef("q38_jdbc_roundtrip", { (s, dir) =>
      val url = "jdbc:derby:memory:graftq38;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().execute(
        """create table logs (
          |  address clob, topic0 clob, topic1 clob,
          |  topic2 clob, topic3 clob, data clob,
          |  block_hash varchar(66) not null, block_number bigint,
          |  transaction_hash varchar(66) not null, transaction_index bigint,
          |  log_index bigint not null, removed boolean, block_timestamp timestamp,
          |  primary key (block_hash, transaction_hash, log_index))""".stripMargin)
      catch { // X0Y32 = table exists (same-JVM rerun): reset contents
        case e: java.sql.SQLException if e.getSQLState == "X0Y32" =>
          conn.createStatement().execute("delete from logs")
      } finally conn.close()
      val batch = Tables(s, dir, "orders").filter(col("o_orderkey") % 5 === 2).select(
        format_string("0x%040x", col("o_custkey")).as("address"),
        lit(TransferSig).as("topic0"),
        format_string("0x%064x", col("o_custkey")).as("topic1"),
        lit(null).cast(StringType).as("topic2"),
        lit(null).cast(StringType).as("topic3"),
        format_string("0x%064x", col("o_orderkey") * 3).as("data"),
        format_string("0xb%x", col("o_orderkey")).as("block_hash"),
        col("o_orderkey").as("block_number"),
        format_string("0xt%x", col("o_orderkey")).as("transaction_hash"),
        lit(0L).as("transaction_index"),
        (col("o_orderkey") % 7).as("log_index"),
        lit(false).as("removed"),
        lit(null).cast(TimestampType).as("block_timestamp"))
      graft.sinks.JdbcSink.appendIdempotent(batch, url, "logs",
        graft.sources.Logs.pk, rangeCol = Some("block_number"))
      graft.sinks.JdbcSink.appendIdempotent(batch, url, "logs",
        graft.sources.Logs.pk, rangeCol = Some("block_number"))
      s.read.jdbc(url, "logs", new java.util.Properties())
        .select(col("address"), col("topic0"), col("topic1"), col("data"),
          col("block_number"), col("transaction_hash"),
          col("transaction_index"), col("log_index"), col("removed"))
        .orderBy(col("block_number"))
    },
      (s"""select printf('0x%040x', o_custkey) as address,
        |  '$TransferSig' as topic0,
        |  printf('0x%064x', o_custkey) as topic1,
        |  printf('0x%064x', o_orderkey * 3) as data,
        |  o_orderkey as block_number,
        |  printf('0xt%x', o_orderkey) as transaction_hash,
        |  cast(0 as bigint) as transaction_index,
        |  o_orderkey % 7 as log_index,
        |  false as removed
        |from orders
        |where o_orderkey % 5 = 2
        |order by block_number""".stripMargin),
      tags = Set(Tag.Io)),

    // §2.11 under the gate: the reference's Transfer view SQL TEXT
    // (init.sql:221 body, modulo ::text casts) parsed by spark.sql
    // through the registered no-UDF function surface, then aggregated —
    // same values as the Column-API path (q12), but through the
    // analyst-facing SQL entry point
    QueryDef("q37_sql_surface_view", { (s, dir) =>
      graft.functions.Abi.registerSqlFunctions(s)
      syntheticTransferLogs(s, dir).createOrReplaceTempView("graft_q37_logs")
      s.sql(
        s"""select to_address(2, topic1) as from_addr,
           |       to_address(2, topic2) as to_addr,
           |       to_uint256(2, data) as amount,
           |       address as contract_address
           |from graft_q37_logs
           |where topic0 = '$TransferSig'""".stripMargin)
        .groupBy(col("contract_address"))
        .agg(count(lit(1)).as("n_transfers"),
          sum(col("amount")).cast(DoubleType).as("total_amount"),
          max(col("to_addr")).as("to_max"))
        .orderBy(col("contract_address"))
    },
      """select printf('0x%040x', c_nationkey) as contract_address,
        |  count(*) as n_transfers,
        |  cast(sum(cast(c_custkey as decimal(38,0)) * 31) as double) as total_amount,
        |  max(printf('0x%040x', c_custkey * 7)) as to_max
        |from customer
        |group by contract_address
        |order by contract_address""".stripMargin),

    // F7/F8/F9/F20-compat under the gate: strtol, from_hex round-trip,
    // from_varbyte text decode, and the reference's 3-element fixed-
    // array text render, each against a pure-SQL DuckDB twin
    QueryDef("q34_scalar_decode_batch", { (s, dir) =>
      val bare = (c: Column) => lpad(lower(hex(c)), 64, "0")
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          bare(col("o_orderkey")).as("_bw"),
          concat(lit("0x"), bare(col("o_orderkey"))).as("_w"),
          concat(lit("0x"), bare(col("o_orderkey")), bare(col("o_orderkey") + 1),
            bare(col("o_orderkey") + 2)).as("_arr3"),
          concat(lit("0x"), lower(hex(col("o_orderpriority")))).as("_txthex"))
        .select(col("o_orderkey"),
          Abi.strtol(col("_bw"), 64).as("strtol_key"),
          hex(Abi.fromHex(col("_w"))).as("hex_roundtrip"),
          Abi.fromVarbyte(Abi.fromHex(col("_txthex")), "UTF-8").as("prio_text"),
          Abi.toFixedArrayCompat(2, col("_arr3"), "uint64", 3).as("fixed3"))
        .orderBy(col("o_orderkey"))
    },
      """select o_orderkey,
        |  o_orderkey as strtol_key,
        |  upper(printf('%064x', o_orderkey)) as hex_roundtrip,
        |  o_orderpriority as prio_text,
        |  '[' || o_orderkey || ',' || (o_orderkey + 1) || ',' || (o_orderkey + 2) || ']' as fixed3
        |from orders
        |order by o_orderkey""".stripMargin),

    // T4 write path under the gate: ingest a wire capture, land
    // same-PK tombstones via the canonicalizing append, replay the
    // ORIGINAL inserts (must not resurrect), read the canonical view.
    // The DuckDB twin derives the surviving rows in pure SQL.
    QueryDef("q35_tombstone_roundtrip", { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q35").toString
      val base = Tables(s, dir, "orders").filter(col("o_orderkey") % 10 === 1)
      def wire(rows: org.apache.spark.sql.DataFrame, removed: Boolean) =
        rows.select(to_json(struct(
          format_string("0x%040x", col("o_custkey")).as("address"),
          array(lit(TransferSig), format_string("0x%064x", col("o_custkey"))).as("topics"),
          format_string("0x%064x", col("o_orderkey") * 3).as("data"),
          format_string("0xb%x", col("o_orderkey")).as("blockHash"),
          format_string("0x%x", col("o_orderkey")).as("blockNumber"),
          format_string("0xt%x", col("o_orderkey")).as("transactionHash"),
          lit("0x0").as("transactionIndex"),
          format_string("0x%x", col("o_orderkey") % 7).as("logIndex"),
          lit(removed).as("removed"))).as("j"))
      wire(base, removed = false).write.mode("overwrite").text(s"$work/w1")
      wire(base.filter(col("o_orderkey") % 50 === 1), removed = true)
        .write.mode("overwrite").text(s"$work/w2")
      val t = s"$work/logs"
      graft.sources.Logs.appendIdempotent(s, graft.sources.Logs.readNdjson(s, s"$work/w1"), t)
      graft.sources.Logs.appendIdempotent(s, graft.sources.Logs.readNdjson(s, s"$work/w2"), t,
        canonicalize = true)
      graft.sources.Logs.appendIdempotent(s, graft.sources.Logs.readNdjson(s, s"$work/w1"), t,
        canonicalize = true)
      graft.sources.Logs.canonical(graft.sources.Logs.read(s, t))
        .select(col("address"), col("block_number"), col("log_index"), col("removed"))
        .orderBy(col("block_number"))
    },
      """select printf('0x%040x', o_custkey) as address,
        |  o_orderkey as block_number,
        |  o_orderkey % 7 as log_index,
        |  false as removed
        |from orders
        |where o_orderkey % 10 = 1 and o_orderkey % 50 <> 1
        |order by block_number""".stripMargin,
      tags = Set(Tag.Io)),

    // A2 sketch aggregation: approx_count_distinct (HLL++). The sketch
    // value isn't cross-engine reproducible, but the ±5% accuracy
    // CONTRACT is gate-able: project the exact counts plus a
    // within-tolerance boolean; the oracle computes the same exact
    // counts and literal `true` — sketch drift past 5% flips the hash
    // Plan note: two countDistinct + two approx in ONE aggregate forces
    // an Expand (input ×5) — measured 16.6 s at sf0.1. Instead each key
    // pre-distincts independently (map-side combinable) and the sketch
    // runs over the distinct values — HLL is duplicate-insensitive, so
    // the estimate is identical — then a 6-row join reassembles. ~3×.
    QueryDef("q30_approx_distinct", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      def side(key: String, exact: String, tol: String) = li
        .select(col("l_returnflag"), col(key)).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as(exact),
          approx_count_distinct(col(key), 0.02).as("_a"))
        .select(col("l_returnflag"), col(exact),
          (abs(col("_a") - col(exact)) <= col(exact) * 0.05).as(tol))
      side("l_partkey", "exact_parts", "parts_within_tol")
        .join(side("l_orderkey", "exact_orders", "orders_within_tol"),
          Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    },
      // the sketch itself is engine-specific; the gated contract is the
      // ±5% HLL accuracy bound (booleans true on both sides iff honored)
      """select l_returnflag,
        |  count(distinct l_partkey) as exact_parts,
        |  true as parts_within_tol,
        |  count(distinct l_orderkey) as exact_orders,
        |  true as orders_within_tol
        |from lineitem
        |group by l_returnflag
        |order by l_returnflag""".stripMargin)
  )
}
