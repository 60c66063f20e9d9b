"""Correctness gate for the pipeline workloads.

DuckDB SQL over the written ``all_transactions`` parquet recomputes the
merchant, payment and card RFM tables with the reference semantics, and
each must equal the table the pipeline wrote, row for row and bit for bit:
keys, R/F/M of both windows, pandas-average pct ranks, segments.

Two per-row lookups are rule evaluation, not SQL, and are computed here in
Python from the same config files the pipeline read: the hybrid merchant
normalizer (payment-prefix strip, exact lookup, priority-ordered regex
scan) and the longest-wallet-prefix payment method.
"""

import csv
import os
import re

import duckdb
import pyarrow as pa

BANK_FEE = "繳款|折抵|各項費用|手續費|年費|利息"


def _jtrim(s):
    """java.lang.String.trim: strips every char <= U+0020 at both ends."""
    i, j = 0, len(s)
    while i < j and s[i] <= " ":
        i += 1
    while j > i and s[j - 1] <= " ":
        j -= 1
    return s[i:j]


def _num(s, default=999.0):
    try:
        return float(s.strip())
    except ValueError:
        return default


def _rows(path):
    with open(path, encoding="utf-8-sig", newline="") as f:
        return list(csv.DictReader(f))


def load_rules(config_dir):
    merchants = [r for r in _rows(os.path.join(config_dir, "merchants.csv"))
                 if r["Pattern"].strip()]
    merchants.sort(key=lambda r: -_num(r["Priority"]))
    payments = [r for r in _rows(os.path.join(config_dir, "payment_gateway.csv"))
                if r["Pattern"]]
    payments.sort(key=lambda r: -_num(r["Priority"]))
    return merchants, payments


def merchant_normalizer(merchants, payments):
    prefixes = sorted((p["Prefix_Label"].strip() for p in payments
                       if p["Prefix_Label"].strip()), key=lambda p: -len(p))
    lookup = {}
    for r in merchants:
        lookup.setdefault(r["Replacement"].strip(), r)
    patterns = [(re.compile(r["Pattern"], re.IGNORECASE), r) for r in merchants]
    # one pass that tells whether any rule matches; most names match none
    any_rule = re.compile("|".join(f"(?:{r['Pattern']})" for r in merchants) or "(?!)",
                          re.IGNORECASE)

    def result(name, r):
        return (name, r["Category"], r["Sub_Category"],
                r["RFM_Exclusion"].strip().lower() == "true")

    def normalize(raw):
        if raw is None:
            return ("Unknown", "Unknown", "", False)
        s = _jtrim(raw)
        prefix = next((p for p in prefixes if s.startswith(p)), None)
        name = _jtrim(s[len(prefix):] if prefix else s)
        if name in lookup:
            return result(name, lookup[name])
        if any_rule.search(name):
            for pattern, r in patterns:
                if pattern.search(name):
                    return result(r["Replacement"], r)
        return (name if name else raw, "Unknown", "", False)

    return normalize


def payment_method(payments):
    wallets = [(p["Prefix_Label"].strip(), p["Category"].strip()) for p in payments
               if _num(p["Priority"]) >= 20]
    wallets = [w for w in wallets if w[0] and w[0].lower() != "nan"]
    wallets.sort(key=lambda w: -len(w[0]))

    def method(raw):
        if raw is None:
            return None
        name = raw.strip(" ")
        return next((c for p, c in wallets if name.startswith(p)), "實體卡/其他")

    return method


def _pct(v, ascending):
    order = "ASC" if ascending else "DESC"
    return (f"CASE WHEN {v} IS NULL THEN NULL ELSE "
            f"(2 * rank() OVER (ORDER BY {v} {order} NULLS LAST) - 1 "
            f"+ count(*) OVER (PARTITION BY {v}))::DOUBLE / 2.0 "
            f"/ (count({v}) OVER ())::DOUBLE END")


def _rfm(src, keys, ad, prefix, extra=""):
    p = prefix
    return f"""
      SELECT *, {_pct(p + 'recency_days', False)} AS {p}r_rank,
                {_pct(p + 'frequency', True)} AS {p}f_rank,
                {_pct(p + 'monetary', True)} AS {p}m_rank
      FROM (SELECT {keys},
              date_diff('day', max(d), {ad})::BIGINT AS {p}recency_days,
              count(DISTINCT transaction_id) AS {p}frequency,
              CAST(SUM(CAST(amt AS DECIMAL(28,6))) AS DOUBLE) AS {p}monetary{extra}
            FROM {src} GROUP BY {keys})"""


def _dual_window(src, key, extra=""):
    ad = f"(SELECT max(d) + 1 FROM {src})"
    short = f"(SELECT * FROM {src} WHERE d >= {ad} - 365)"
    return f"""
      SELECT l.*,
        coalesce(s.short_recency_days, 9999) AS short_recency_days,
        coalesce(s.short_frequency, 0) AS short_frequency,
        coalesce(s.short_monetary, 0) AS short_monetary,
        coalesce(s.short_r_rank, 0) AS short_r_rank,
        coalesce(s.short_f_rank, 0) AS short_f_rank,
        coalesce(s.short_m_rank, 0) AS short_m_rank
      FROM ({_rfm(src, key, ad, 'life_', extra)}) l
      LEFT JOIN ({_rfm(short, key, ad, 'short_')}) s USING ({key})"""


def oracle_sql():
    """SQL per analysis over views `tx` (all_transactions), `mnorm` and
    `pmethod` (the two per-merchant lookups)."""
    not_fee = f"NOT regexp_matches(coalesce(transaction_type, ''), '{BANK_FEE}')"
    merchant_src = f"""(SELECT a.transaction_id, a.transaction_date AS d,
          a.payment_amount AS amt, m.clean_merchant_name, m.Category, m.Sub_Category
        FROM tx a JOIN mnorm m ON a.merchant_name IS NOT DISTINCT FROM m.merchant_name
        WHERE NOT m.RFM_Exclusion AND {not_fee})"""
    payment_src = f"""(SELECT a.transaction_id, a.transaction_date AS d,
          a.payment_amount AS amt, p.Payment_Method
        FROM tx a JOIN pmethod p ON a.merchant_name IS NOT DISTINCT FROM p.merchant_name
        WHERE {not_fee})"""
    card_src = f"""(SELECT transaction_id, transaction_date AS d, payment_amount AS amt,
          bank_name, card_name FROM tx
        WHERE {not_fee} AND card_name IS NOT NULL AND card_name <> '')"""
    card_ad = f"(SELECT max(d) + 1 FROM {card_src})"
    card_win = f"(SELECT * FROM {card_src} WHERE d >= {card_ad} - 366)"
    card_agg = f"""(SELECT bank_name, card_name,
          date_diff('day', max(d), {card_ad})::BIGINT AS recency_days,
          count(DISTINCT transaction_id) AS frequency,
          CAST(SUM(CAST(amt AS DECIMAL(28,6))) AS DOUBLE) AS monetary
        FROM {card_win} GROUP BY bank_name, card_name)"""
    return {
        "merchant": f"""SELECT *, CASE
            WHEN life_m_rank >= 0.8 AND short_frequency > 0 THEN '核心商家 (Core)'
            WHEN life_m_rank >= 0.8 AND NOT (short_frequency > 0) THEN '流失高價值 (Churned VIP)'
            WHEN NOT (life_m_rank >= 0.8) AND short_frequency > 0 AND short_m_rank >= 0.8
              THEN '潛力新星 (Rising Star)'
            WHEN short_frequency > 0 THEN '一般活躍 (Active)'
            ELSE '沉睡商家 (Dormant)' END AS segment
          FROM ({_dual_window(merchant_src, 'clean_merchant_name',
                              ', max(Category) AS Category, max(Sub_Category) AS Sub_Category')})""",
        "payment": f"""SELECT *, CASE
            WHEN life_f_rank >= 0.7 AND short_frequency > 0 THEN '主力支付 (Main Wallet)'
            WHEN life_f_rank >= 0.7 AND NOT (short_frequency > 0) THEN '已棄用支付 (Abandoned)'
            WHEN NOT (life_f_rank >= 0.7) AND short_frequency > 0 THEN '輔助支付 (Backup)'
            ELSE '冷門支付 (Rare)' END AS segment
          FROM ({_dual_window(payment_src, 'Payment_Method')})""",
        "card": f"""SELECT *, CASE
            WHEN recency_days > 180 THEN '❄️ 冷凍/沉睡卡 (Dormant)'
            WHEN f_rank >= 0.5 AND m_rank >= 0.5 THEN '👑 主力攻擊手 (Main Driver)'
            WHEN NOT (f_rank >= 0.5) AND m_rank >= 0.5 THEN '🎯 狙擊手 (Sniper)'
            WHEN f_rank >= 0.5 AND NOT (m_rank >= 0.5) THEN '🔄 後勤補給 (Utility)'
            ELSE '📉 低效冗餘 (Inefficient)' END AS segment,
            CAST(trunc(monetary / frequency) AS BIGINT) AS avg_ticket
          FROM (SELECT *, {_pct('frequency', True)} AS f_rank,
                          {_pct('monetary', True)} AS m_rank FROM {card_agg})""",
    }


def _parquet(out_dir, name):
    return f"read_parquet('{os.path.join(out_dir, name, '*.parquet')}')"


def connect(out_dir, config_dir):
    """DuckDB connection with `tx` over the written all_transactions and
    the two per-merchant lookups registered as `mnorm` and `pmethod`."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW tx AS SELECT * FROM {_parquet(out_dir, 'all_transactions')}")
    names = [r[0] for r in con.execute("SELECT DISTINCT merchant_name FROM tx").fetchall()]
    merchants, payments = load_rules(config_dir)
    normalize = merchant_normalizer(merchants, payments)
    method = payment_method(payments)
    norm = [normalize(n) for n in names]
    con.register("mnorm", pa.table({
        "merchant_name": pa.array(names, pa.string()),
        "clean_merchant_name": [n[0] for n in norm], "Category": [n[1] for n in norm],
        "Sub_Category": [n[2] for n in norm], "RFM_Exclusion": [n[3] for n in norm]}))
    con.register("pmethod", pa.table({"merchant_name": pa.array(names, pa.string()),
                                      "Payment_Method": [method(n) for n in names]}))
    return con


def gate(out_dir, config_dir, expected_rows):
    """Check the pipeline outputs under `out_dir`. Returns a dict with `ok`,
    the loaded row count, the group count per analysis and, per analysis,
    the rows missing from / unexpected in the pipeline's table."""
    con = connect(out_dir, config_dir)
    try:
        rows = con.execute("SELECT count(*) FROM tx").fetchone()[0]
        result = {"rows": rows, "expected_rows": expected_rows, "groups": {}, "diff": {}}
        ok = rows == expected_rows
        for name, sql in oracle_sql().items():
            con.execute(f"CREATE TEMP TABLE want_{name} AS {sql}")
            con.execute(f"CREATE VIEW got_{name} AS SELECT * FROM "
                        f"{_parquet(out_dir, 'rfm_' + name)}")
            cols = [c[0] for c in con.execute(f"DESCRIBE want_{name}").fetchall()]
            got_cols = [c[0] for c in con.execute(f"DESCRIBE got_{name}").fetchall()]
            if sorted(c.lower() for c in cols) != sorted(c.lower() for c in got_cols):
                result["diff"][name] = {"columns": got_cols, "expected_columns": cols}
                ok = False
                continue
            sel = ", ".join(f'"{c}"' for c in cols)
            missing = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM want_{name} "
                                  f"EXCEPT ALL SELECT {sel} FROM got_{name})").fetchone()[0]
            extra = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM got_{name} "
                                f"EXCEPT ALL SELECT {sel} FROM want_{name})").fetchone()[0]
            groups = con.execute(f"SELECT count(*) FROM want_{name}").fetchone()[0]
            result["groups"][name] = groups
            result["diff"][name] = {"missing": missing, "unexpected": extra}
            ok = ok and missing == 0 and extra == 0 and groups > 0
        result["ok"] = ok
        return result
    finally:
        con.close()
