"""Seeded input generators for the pipeline benchmark.

Two corpora, both written from nothing but a seed, so the same seed always
gives byte-identical files:

- ``statement_archive``: monthly card statements from five banks, one file
  per bank and month, covering every ingest path the extract stage has
  (esun UTF-8 CSV with preamble, master rows, foreign splits and e.Point
  rows; cube CSV with combined location/currency and dual card numbers;
  ctbc Big5 CSV; hncb Big5 HTML behind a decoy table; sinopac XLSX).
- ``stage_bulk``: one inter-stage ``result_all_banks.csv`` (the extract
  output contract) with a refine-stage mix of payments, wallets, foreign
  rows, dual cards, nulls, CSV quoting and full-width text, and more than
  2^17 distinct merchant names.

Both write the same reference-layout config directory. ``generate``
returns the input record (files, rows, bytes) that the correctness gate
checks the loaded row count against.
"""

import datetime
import os
import random
import zipfile

SHARED_CONFIGS = {
    "banks_config.yaml": """esun_bank:
  bank_name: "玉山銀行"
  file_type: "csv"
  encoding: "utf-8"
  header_keyword: "交易日期"
  columns_mapping:
    交易日期: Transaction_Date
    入帳日期: Posting_Date
    卡號末四碼: Card_No
    交易說明: Merchant
    外幣金額: Currency_Amount
    臺幣金額: Amount
cube_bank:
  bank_name: "國泰世華"
  file_type: "csv"
  encoding: "utf-8"
  header_keyword: "信用卡號"
  columns_mapping:
    交易日: Transaction_Date
    入帳日: Posting_Date
    卡號末四碼: Card_No
    交易說明: Merchant
    臺幣金額: Amount
    消費地/幣別: Raw_Country_Currency
ctbc_bank:
  bank_name: "中國信託"
  file_type: "csv"
  encoding: "Big5"
  header_keyword: "消費日期"
  columns_mapping:
    消費日期: Transaction_Date
    入帳日期: Posting_Date
    卡號末四碼: Card_No
    商店名稱: Merchant
    臺幣金額: Amount
    外幣金額: Currency_Amount
    幣別: Currency_Type
hncb_bank:
  bank_name: "華南銀行"
  file_type: "html"
  encoding: "Big5"
  header_keyword: "交易日期"
  columns_mapping:
    交易日期: Transaction_Date
    入帳日期: Posting_Date
    卡號末四碼: Card_No
    摘要: Merchant
    金額: Amount
sinopac_bank:
  bank_name: "永豐銀行"
  file_type: "excel"
  encoding: "utf-8"
  header_keyword: "交易日期"
  columns_mapping:
    交易日期: Transaction_Date
    入帳日期: Posting_Date
    卡號末四碼: Card_No
    交易摘要: Merchant
    臺幣金額: Amount
""",
    "cards.csv": """對應卡片,卡號,行動支付標籤,加在消費明細摘要前方,卡號代換
玉山Unicard,4444,,,
國泰CUBE,1111/2222,,,9999
國泰世界卡,3333/4444,,,8888
中信LINE卡,5678,,,
華南經典,9876,,,
永豐DAWAY,7777,,,
永豐大戶,1111,,,
""",
    "payment_gateway.csv": """Pattern,Category,Prefix_Label,Priority
(?i)(?:連加|連支|LINE.*PAY|LPEPI),Line Pay,LinePay－,25
(?i)(?:街口|JKOPAY),JKOPay,JKOPAY－,25
(?i)(?:全支付|PXPAY),PXPay,全支付－,22
(?i).*(?:ECPay|綠界).*,綠界科技,綠界－,15
""",
    "merchants.csv": """Pattern,Replacement,Priority,Category,Sub_Category,RFM_Exclusion
好食餐廳,好食餐廳,50,Food,Restaurant,False
全聯,全聯福利中心,60,Grocery,Supermarket,False
STEAMGAMES,Steam,40,Entertainment,Games,False
咖啡,神祕咖啡店,45,Food,Cafe,False
百貨公司,百貨公司,30,Retail,Department,True
統一超商,7-ELEVEN,55,Grocery,Convenience,False
UBER,Uber,35,Transport,Ride,False
蝦皮,蝦皮購物,35,Retail,Online,False
加油站,加油站,20,Transport,Fuel,False
""",
    "transaction_types.yaml": """payment_keywords:
  - '網路銀行繳款'
  - '自動扣繳'
  - '轉帳繳款'
credit_keywords:
  - 'e point'
  - '回饋'
  - '調整'
fee_keywords:
  - '手續費'
  - '年費'
  - '調整'
""",
}

# Merchant pool for statements: names the rules normalize, names they do
# not, wallet-prefixed names, and a per-seed long tail (added below).
STATEMENT_MERCHANTS = [
    "全聯福利中心", "全聯 信義店", "統一超商 台北站", "統一超商 南港店",
    "好食餐廳", "好食餐廳忠孝店", "神祕咖啡館", "咖啡小站", "加油站",
    "UBER TRIP", "UBER EATS", "蝦皮購物", "百貨公司", "書店", "藥局",
    "LINE PAY 好食餐廳", "LINE PAY 麵包店", "街口 早餐店", "JKOPAY 飲料店",
    "全支付 超市", "綠界 網拍", "電信費", "保險費", "停車場", "高鐵",
]
FOREIGN = [
    ("STEAMGAMES.COM", "JPN TOKYO", "JPY"), ("AMAZON MARKETPLACE", "USA SEATTLE", "USD"),
    ("NETFLIX.COM", "NLD AMSTERDAM", "EUR"), ("AGODA HOTEL", "SGP SINGAPORE", "SGD"),
]

# Zip entries carry this timestamp so an XLSX is byte-identical per seed.
ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def write_configs(config_dir):
    os.makedirs(config_dir, exist_ok=True)
    for name, text in SHARED_CONFIGS.items():
        with open(os.path.join(config_dir, name), "w", encoding="utf-8", newline="\n") as f:
            f.write(text)


def _md(month, day):
    return f"{month:02d}/{day:02d}"


def _csv_field(value):
    text = "" if value is None else str(value)
    if any(ch in text for ch in ',"\n'):
        return '"' + text.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return text


def _csv_line(values):
    return ",".join(_csv_field(v) for v in values)


def _tail(rng):
    return f"小店{rng.randrange(400):03d}號"


def _merchant(rng):
    if rng.random() < 0.3:
        return _tail(rng)
    return rng.choice(STATEMENT_MERCHANTS)


def _amount(rng):
    return rng.choice([rng.randrange(30, 3000), rng.randrange(30, 30000) // 10 * 10])


def _esun(rng, year, month, rows):
    """UTF-8 CSV: preamble, master rows per card, foreign split rows,
    e.Point rows, one payment and one undated junk line."""
    lines = ["帳單說明：本期帳單", "會員資訊,,,,,",
             "交易日期,入帳日期,卡號末四碼,交易說明,外幣金額,臺幣金額"]
    body = 0
    cards = [("4444", "玉山Unicard－正卡"), ("5555", "玉山Pi卡－附卡")]
    per_card = rows // len(cards)
    for card, label in cards:
        lines.append(_csv_line([_md(month, 1), _md(month, 2), "",
                                f"卡號：1234-5678-9012-{card}（{label}）", "", ""]))
        for _ in range(per_card):
            day = rng.randrange(1, 28)
            kind = rng.random()
            if kind < 0.1:
                name, place, _cur = rng.choice(FOREIGN)
                text = f"{name}  {place}  {_md(month, day)}"
                amt = _amount(rng)
                fx = round(amt / rng.choice([4.5, 31.5, 33.0, 23.5]), 2)
                lines.append(_csv_line([_md(month, day), _md(month, day + 1), "", text, fx, amt]))
            elif kind < 0.14:
                pts = rng.randrange(1, 30) * 100
                text = f"使用e point {pts:,} 點折現金 {pts // 10} 元"
                lines.append(_csv_line([_md(month, day), _md(month, day + 1), "", text, "", ""]))
            else:
                lines.append(_csv_line([_md(month, day), _md(month, day + 1), "",
                                        _merchant(rng), "", _amount(rng)]))
            body += 1
    lines.append(_csv_line([_md(month, 15), _md(month, 15), "", "網路銀行繳款", "",
                            -rng.randrange(1000, 50000)]))
    body += 1
    lines.append("垃圾行沒有日期,,,,,")
    return ("\n".join(lines) + "\n").encode("utf-8"), body


def _cube(rng, year, month, rows):
    """UTF-8 CSV: dual card numbers, combined `location / currency`."""
    lines = ["國泰世華信用卡電子帳單",
             "信用卡號,交易日,入帳日,卡號末四碼,交易說明,臺幣金額,消費地/幣別"]
    for _ in range(rows):
        day = rng.randrange(1, 28)
        card = rng.choice(["1111/2222", "3333/4444", "6666/7777"])
        if rng.random() < 0.15:
            name, place, cur = rng.choice(FOREIGN)
            merchant, loc = name, f"{place} / {cur}"
        else:
            merchant, loc = _merchant(rng), "TW / TWD"
        lines.append(_csv_line(["CUBE卡", _md(month, day), _md(month, day + 1), card,
                                merchant, _amount(rng), loc]))
    return ("\n".join(lines) + "\n").encode("utf-8"), rows


def _ctbc(rng, year, month, rows):
    """Big5 CSV, full `yyyy/MM/dd` and `MM/dd` dates mixed."""
    lines = ["消費日期,入帳日期,卡號末四碼,商店名稱,臺幣金額,外幣金額,幣別"]
    for i in range(rows):
        day = rng.randrange(1, 28)
        date = f"{year}/{month:02d}/{day:02d}" if i % 2 else _md(month, day)
        if rng.random() < 0.1:
            name, _place, cur = rng.choice(FOREIGN)
            amt = _amount(rng)
            lines.append(_csv_line([date, _md(month, day + 1), "5678", name, amt,
                                    round(amt / 30.0, 2), cur]))
        else:
            lines.append(_csv_line([date, _md(month, day + 1), "5678", _merchant(rng),
                                    _amount(rng), "", ""]))
    return ("\n".join(lines) + "\n").encode("big5"), rows


def _hncb(rng, year, month, rows):
    """Big5 HTML: a decoy table first, a newline inside a header cell,
    starred master rows and one payment row."""
    out = ["<html><body>",
           "<table><tr><td>廣告</td><td>無關表格</td></tr></table>",
           '<table border="1">',
           "<tr><th>交易日期</th><th>入帳\n日期</th><th>卡號末四碼</th><th>摘要</th><th>金額</th></tr>",
           f"<tr><td>{_md(month, 1)}</td><td>{_md(month, 2)}</td><td></td>"
           "<td>華南經典卡************9876</td><td></td></tr>"]
    for _ in range(rows - 1):
        day = rng.randrange(1, 28)
        name = _merchant(rng).replace("&", "&amp;")
        out.append(f"<tr><td>{_md(month, day)}</td><td>{_md(month, day + 1)}</td><td></td>"
                   f"<td>{name}</td><td>{_amount(rng)}</td></tr>")
    out.append(f"<tr><td>{_md(month, 20)}</td><td>{_md(month, 21)}</td><td></td>"
               f"<td>自動扣繳轉帳繳款</td><td>-{rng.randrange(1000, 20000)}</td></tr>")
    out += ["</table>", "</body></html>"]
    return ("\n".join(out) + "\n").encode("big5"), rows


def _xlsx_bytes(path, rows):
    """Minimal OOXML workbook: shared strings, numFmt 14 date serials,
    plain numbers. Written through zipfile with fixed timestamps."""
    strings = {}

    def sidx(s):
        return strings.setdefault(s, len(strings))

    def esc(s):
        return (s.replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;").replace('"', "&quot;"))

    def col_ref(i):
        ref = ""
        n = i + 1
        while n > 0:
            ref = chr(ord("A") + (n - 1) % 26) + ref
            n = (n - 1) // 26
        return ref

    body = []
    for ri, row in enumerate(rows):
        cells = []
        for ci, v in enumerate(row):
            ref = f"{col_ref(ci)}{ri + 1}"
            if isinstance(v, str):
                cells.append(f'<c r="{ref}" t="s"><v>{sidx(v)}</v></c>')
            elif isinstance(v, tuple):  # ("date", serial)
                cells.append(f'<c r="{ref}" s="1"><v>{v[1]}</v></c>')
            else:
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
        body.append(f'<row r="{ri + 1}">{"".join(cells)}</row>')
    ns = "http://schemas.openxmlformats.org"
    head = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    parts = {
        "[Content_Types].xml": head + f'<Types xmlns="{ns}/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/></Types>',
        "_rels/.rels": head + f'<Relationships xmlns="{ns}/package/2006/relationships">'
        f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml": head + f'<workbook xmlns="{ns}/spreadsheetml/2006/main" xmlns:r="{ns}/officeDocument/2006/relationships">'
        '<sheets><sheet name="明細" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels": head + f'<Relationships xmlns="{ns}/package/2006/relationships">'
        f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        f'<Relationship Id="rId2" Type="{ns}/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        f'<Relationship Id="rId3" Type="{ns}/officeDocument/2006/relationships/styles" Target="styles.xml"/></Relationships>',
        "xl/worksheets/sheet1.xml": head + f'<worksheet xmlns="{ns}/spreadsheetml/2006/main"><sheetData>'
        + "".join(body) + "</sheetData></worksheet>",
    }
    sis = "".join(f'<si><t xml:space="preserve">{esc(s)}</t></si>' for s in strings)
    parts["xl/sharedStrings.xml"] = head + (
        f'<sst xmlns="{ns}/spreadsheetml/2006/main" count="{len(strings)}" '
        f'uniqueCount="{len(strings)}">{sis}</sst>')
    parts["xl/styles.xml"] = head + (
        f'<styleSheet xmlns="{ns}/spreadsheetml/2006/main"><fonts count="1"><font/></fonts>'
        '<fills count="1"><fill/></fills><borders count="1"><border/></borders>'
        '<cellStyleXfs count="1"><xf/></cellStyleXfs><cellXfs count="2"><xf numFmtId="0"/>'
        '<xf numFmtId="14" applyNumberFormat="1"/></cellXfs></styleSheet>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts.items():
            z.writestr(zipfile.ZipInfo(name, ZIP_EPOCH), text.encode("utf-8"),
                       zipfile.ZIP_DEFLATED)


def _serial(year, month, day):
    return (datetime.date(year, month, day) - datetime.date(1899, 12, 30)).days


def _sinopac_rows(rng, year, month, rows):
    out = [["交易日期", "入帳日期", "卡號末四碼", "交易摘要", "臺幣金額"]]
    for _ in range(rows):
        day = rng.randrange(1, 28)
        out.append([("date", _serial(year, month, day)), ("date", _serial(year, month, day + 1)),
                    "7777", _merchant(rng), _amount(rng)])
    return out


def statement_archive(seed, data_dir, months, rows_per_file):
    """One statement per bank per month of 2024, `months` months."""
    os.makedirs(data_dir, exist_ok=True)
    rng = random.Random(f"statement_archive:{seed}")
    files = rows = 0
    year, roc = 2024, 113
    for month in range(1, months + 1):
        n = rows_per_file + rng.randrange(-rows_per_file // 10, rows_per_file // 10 + 1)
        for name, make in ((f"玉山{roc}年{month}月帳單.csv", _esun),
                           (f"國泰{year}{month:02d}帳單.csv", _cube),
                           (f"中信{year}{month:02d}.csv", _ctbc),
                           (f"華南{year}{month:02d}.html", _hncb)):
            payload, body = make(rng, year, month, n)
            with open(os.path.join(data_dir, name), "wb") as f:
                f.write(payload)
            files += 1
            rows += body
        _xlsx_bytes(os.path.join(data_dir, f"永豐{year}{month:02d}帳單.xlsx"),
                    _sinopac_rows(rng, year, month, n))
        files += 1
        rows += n
    return {"files": files, "rows": rows}


# Stage-file mix (RefineBench-style): payment keywords, credits, wallets,
# fees, quoting, padding and full-width text, plus the long tail.
STAGE_FIXED = [
    "網路銀行繳款", "現金回饋活動", "加油站", "STEAMGAMES.COM",
    "使用e point 1,000 點折現金 100 元", "手續費", "年費帳單", "蝦皮購物",
    "全聯福利中心", "調整", "咖啡, 店", 'say "hi" store', "  超商回饋  ",
    "ＬＰＥＰＩ商店", "統一超商 台北站", "百貨公司",
]
STAGE_COLUMNS = [
    "Transaction_Date", "Posting_Date", "Merchant", "Merchant_Location",
    "Consumption_Place", "Currency_Type", "Conversion_Date", "Amount",
    "Currency_Amount", "Payment_Amount", "Payment_Currency", "Transaction_Type",
    "Mobile_Payment", "Card_Type", "Card_No", "Bank_Name",
]


def stage_bulk(seed, data_dir, rows, unique_tail):
    """`rows` unified transactions over two years; the first `unique_tail`
    long-tail rows each get a merchant name of their own, so the lifetime
    merchant group table exceeds `unique_tail` rows while the one-year
    window holds about half of them. Two 64-bit draws per row feed every
    per-row choice."""
    os.makedirs(data_dir, exist_ok=True)
    rng = random.Random(f"stage_bulk:{seed}")
    start = datetime.date(2023, 1, 1)
    dates = [(start + datetime.timedelta(days=d)).isoformat() for d in range(731)]
    places = [("TW", "TWD"), ("TW", "TWD"), ("JP", "JPY"), ("US", "USD"), ("", "")]
    cards = ["1111", "4444", "1111/2222", "3333/4444", "", "9876", "5678", "7777"]
    banks = ["esun_bank", "cube_bank", "ctbc_bank", "hncb_bank", "sinopac_bank"]
    wallets = ["LINE PAY－", "街口 ", "全支付－"]
    fixed = [_csv_field(m) for m in STAGE_FIXED]
    out = [",".join(STAGE_COLUMNS)]
    tail = 0
    for _ in range(rows):
        r, q = rng.getrandbits(64), rng.getrandbits(64)
        date = dates[r % 731]
        kind = r // 731 % 100
        r //= 73100
        if kind < 97:
            tid = tail if tail < unique_tail else r % unique_tail
            tail += 1
            merchant = f"商店_{tid:06d}"
            if kind < 9:
                merchant = wallets[kind % 3] + merchant
        elif kind < 99:
            merchant = f"LINE PAY－餐廳_{r % 97}"
        else:
            merchant = fixed[r % len(fixed)]
        loc, cur = places[q % 5]
        amount = "" if q // 5 % 20 == 0 else f"{q // 100 % 102000 / 10.0 - 200.0:.1f}"
        q //= 100 * 102000
        curr_amount = f"{100 + q % 89900:d}.{q // 89900 % 10:d}" if loc in ("JP", "US") else ""
        q //= 899000
        card = cards[q % 8]
        bank = banks[q // 8 % 5]
        out.append(f"{date},{date},{merchant},{loc},,{cur},,{amount},{curr_amount},"
                   f"{amount},TWD,,,,{card},{bank}")
    with open(os.path.join(data_dir, "result_all_banks.csv"), "w", encoding="utf-8",
              newline="\n") as f:
        f.write("\n".join(out) + "\n")
    return {"files": 1, "rows": rows}


# Workload sizes. The statement archive keeps its merchant groups far below
# 2^17 (the window-rank path); the stage file crosses 2^17 distinct merchant
# groups (the prefix-sum path).
SIZES = {
    "statement_archive": {"months": 1, "rows_per_file": 150},
    "stage_bulk": {"rows": 137000, "unique_tail": 132000},
}


def generate(workload, seed, root):
    """Write configs + data for `workload` under `root`; return the record."""
    config_dir = os.path.join(root, "configs")
    data_dir = os.path.join(root, "data")
    write_configs(config_dir)
    if workload == "statement_archive":
        record = statement_archive(seed, data_dir, **SIZES[workload])
    elif workload == "stage_bulk":
        record = stage_bulk(seed, data_dir, **SIZES[workload])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    record["bytes"] = sum(os.path.getsize(os.path.join(data_dir, f))
                          for f in sorted(os.listdir(data_dir)))
    return record
