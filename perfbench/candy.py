"""Candy corpus generator and sequential reference model.

The generator writes the pipeline's input layout (``transactions_YYYYMMDD.json``
day files, ``products.csv``, ``customers.csv``) from a seed. It covers the
edge cases of the reference corpus: null ``qty`` items inside multi-item
orders, orders whose every item is null (they must vanish from
``orders.csv``), equal timestamps whose tie is broken by arrival order, and
products whose demand exceeds their stock (cancelled lines, quantity 0).
Product popularity is Pareto-shaped, so one hot product holds about a third
of the line items and its sequential fold dominates the fulfillment stage.

The model is a plain fold per product over (day, arrival order) and derives
all four tabular outputs plus the one-day forecast; ``check`` compares the
pipeline's CSV files against it.
"""
import csv
import json
import os
import random
from collections import defaultdict
from datetime import date, timedelta
from decimal import Decimal, ROUND_HALF_UP

START = date(2024, 2, 1)
NULL_QTY = 0.08        # share of items with a null qty
ALL_NULL_ORDER = 0.015  # share of orders whose every item is null
TIE = 0.03             # share of transactions that copy the previous timestamp


def r2(x):
    """2-dp HALF_UP on the shortest decimal form of a double (Spark's round)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def generate(out_dir, seed, days, tx_per_day, products, customers=200):
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    # Pareto-shaped popularity: weight 1/rank^1.2, with the head product
    # boosted to half of all draws; as an order lists a product at most
    # once, it ends up with about a third of the line items.
    weights = [1.0 / (k + 1) ** 1.2 for k in range(products)]
    weights[0] = sum(weights[1:])
    pids = list(range(1, products + 1))
    rng.shuffle(pids)
    demand = defaultdict(int)
    tid = 0
    n_items = 0
    for d in range(days):
        day = START + timedelta(days=d)
        txs = []
        prev_ts = None
        for _ in range(tx_per_day):
            tid += 1
            if prev_ts is not None and rng.random() < TIE:
                ts = prev_ts
            else:
                us = rng.randrange(86_400_000_000)
                ts = "%sT%02d:%02d:%02d.%06d" % (
                    day.isoformat(), us // 3_600_000_000, us // 60_000_000 % 60,
                    us // 1_000_000 % 60, us % 1_000_000)
            prev_ts = ts
            k = 1 + min(int(rng.expovariate(0.7)), 5)
            chosen = []
            while len(chosen) < k:
                p = pids[rng.choices(range(products), weights)[0]]
                if p not in chosen:
                    chosen.append(p)
            all_null = rng.random() < ALL_NULL_ORDER
            items = []
            for p in chosen:
                q = None if all_null or rng.random() < NULL_QTY else rng.randint(1, 6)
                if q is not None:
                    demand[p] += q
                items.append({"product_id": p, "product_name": "Candy %d" % p, "qty": q})
            n_items += len(items)
            txs.append({"transaction_id": tid, "customer_id": rng.randint(1, customers),
                        "timestamp": ts, "items": items})
        # arrival order is the file order; timestamps are not sorted in it
        with open(os.path.join(out_dir, "transactions_%s.json" % day.strftime("%Y%m%d")), "w") as f:
            json.dump(txs, f, indent=1)
    with open(os.path.join(out_dir, "products.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["product_id", "product_name", "product_category", "product_subcategory",
                    "product_shape", "sales_price", "cost_to_make", "stock"])
        for p in range(1, products + 1):
            cents = rng.randint(50, 999)
            cost = rng.randint(10, cents - 1)
            # every third product is short of stock: demand exceeds it
            stock = demand[p] * (rng.randint(40, 90) if p % 3 == 0 else 120) // 100
            w.writerow([p, "Candy %d" % p, "cat%d" % (p % 5), "sub%d" % (p % 11),
                        "shape%d" % (p % 3), "%.2f" % (cents / 100), "%.2f" % (cost / 100), stock])
    with open(os.path.join(out_dir, "customers.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["customer_id", "first_name", "last_name", "email", "address", "phone"])
        for c in range(1, customers + 1):
            w.writerow([c, "F%d" % c, "L%d" % c, "c%d@example.com" % c,
                        "%d Main St, Town %d" % (c, c % 7), "555-%04d" % c])
    return n_items


def model(data_dir):
    """Sequential reference semantics of the pipeline's five outputs."""
    products = {}
    with open(os.path.join(data_dir, "products.csv")) as f:
        for r in csv.DictReader(f):
            products[int(r["product_id"])] = (int(r["stock"]), float(r["sales_price"]),
                                              float(r["cost_to_make"]), r["product_name"])
    files = sorted(n for n in os.listdir(data_dir)
                   if n.startswith("transactions_") and n.endswith(".json"))
    per_product = defaultdict(list)
    headers = {}
    for fi, name in enumerate(files):
        with open(os.path.join(data_dir, name)) as f:
            for pos, t in enumerate(json.load(f)):
                oid = t["transaction_id"]
                headers[oid] = (t["timestamp"], t["customer_id"])
                for it in t["items"]:
                    if it["qty"] is not None:
                        per_product[it["product_id"]].append(
                            (t["timestamp"][:10], fi, pos, oid, it["qty"]))
    lines = {}
    sold = defaultdict(int)
    for pid, rows in per_product.items():
        stock, price, _, _ = products.get(pid, (0, 0.0, 0.0, ""))
        available = stock
        for day, _, _, oid, q in sorted(rows):
            got = q if available > 0 and q <= available else 0
            available -= got
            sold[pid] += got
            lines[(oid, pid)] = (got, price, r2(got * price))
    totals = defaultdict(float)
    counts = defaultdict(int)
    for (oid, _), (_, _, lt) in lines.items():
        totals[oid] += lt
        counts[oid] += 1
    orders = {oid: (headers[oid][0], headers[oid][1], r2(totals[oid]), counts[oid])
              for oid in counts}
    daily = defaultdict(lambda: [set(), 0.0, 0.0])
    for (oid, pid), (q, _, lt) in lines.items():
        d = daily[orders[oid][0][:10]]
        d[0].add(oid)
        d[1] += lt
        d[2] += r2(lt - q * products[pid][2])
    summary = {d: (len(v[0]), r2(v[1]), r2(v[2])) for d, v in sorted(daily.items())}
    inventory = {pid: (v[3], v[0] - sold[pid]) for pid, v in products.items()}
    # OLS linear trend over the daily series, one day ahead
    def trend(ys):
        n = len(ys)
        tbar, ybar = (n - 1) / 2, sum(ys) / n
        sxx = sum((t - tbar) ** 2 for t in range(n))
        b = 0.0 if sxx == 0 else sum((t - tbar) * (y - ybar) for t, y in enumerate(ys)) / sxx
        return r2(ybar - b * tbar + b * n)
    last = date.fromisoformat(max(summary))
    forecast = ((last + timedelta(days=1)).isoformat(),
                trend([v[1] for v in summary.values()]),
                trend([v[2] for v in summary.values()]))
    return {"lines": lines, "orders": orders, "inventory": inventory,
            "daily": summary, "forecast": forecast, "n_lines": len(lines)}


def _money(s):
    return float(s.replace(",", ""))


def _close(a, b, rel=1e-9):
    return abs(a - b) <= 0.011 + rel * abs(b)


def check(out_dir, m):
    """Compare the pipeline's CSV outputs with the model; returns a list of
    mismatch descriptions (empty when every output agrees)."""
    bad = []

    def rows(name):
        with open(os.path.join(out_dir, name), newline="") as f:
            return list(csv.DictReader(f))

    li = rows("order_line_items.csv")
    keys = [(int(r["order_id"]), int(r["product_id"])) for r in li]
    if keys != sorted(m["lines"]):
        bad.append("order_line_items: %d rows / keys or order differ from the model's %d"
                   % (len(li), len(m["lines"])))
    else:
        for r, k in zip(li, keys):
            q, price, lt = m["lines"][k]
            if (int(r["quantity"]) != q or r["unit_price"] != "{:,.2f}".format(price)
                    or r["line_total"] != "{:,.2f}".format(lt)):
                bad.append("order_line_items %s: got %s/%s/%s want %d/%.2f/%.2f"
                           % (k, r["quantity"], r["unit_price"], r["line_total"], q, price, lt))
                break
    od = rows("orders.csv")
    if [int(r["order_id"]) for r in od] != sorted(m["orders"]):
        bad.append("orders: %d rows vs model %d" % (len(od), len(m["orders"])))
    else:
        for r in od:
            ts, cust, total, n = m["orders"][int(r["order_id"])]
            if (r["order_datetime"] != ts or int(r["customer_id"]) != cust
                    or r["total_amount"] != "{:,.2f}".format(total) or int(r["num_items"]) != n):
                bad.append("orders %s: got %s want %s" % (r["order_id"], dict(r), (ts, cust, total, n)))
                break
    inv = rows("products_updated.csv")
    got_inv = {int(r["product_id"]): (r["product_name"], int(r["current_stock"])) for r in inv}
    if got_inv != m["inventory"] or [int(r["product_id"]) for r in inv] != sorted(m["inventory"]):
        bad.append("products_updated differs from the model")
    ds = rows("daily_summary.csv")
    want = m["daily"]
    if [r["date"] for r in ds] != list(want):
        bad.append("daily_summary dates %s vs %s" % ([r["date"] for r in ds], list(want)))
    else:
        for r in ds:
            n, s, p = want[r["date"]]
            if int(r["num_orders"]) != n or not _close(_money(r["total_sales"]), s) \
                    or not _close(_money(r["total_profit"]), p):
                bad.append("daily_summary %s: got %s want %s" % (r["date"], dict(r), (n, s, p)))
                break
    fc = rows("sales_profit_forecast.csv")
    d, s, p = m["forecast"]
    if len(fc) != 1 or fc[0]["date"] != d or not _close(_money(fc[0]["forecasted_sales"]), s, 1e-6) \
            or not _close(_money(fc[0]["forecasted_profit"]), p, 1e-6):
        bad.append("forecast: got %s want %s" % (fc, m["forecast"]))
    return bad
