"""Seeded, reference-shaped CSVs for the six medallion sources.

Follows FIXTURES.md: the same file names, columns and header row as
the reference datasets, every measured dirt class, and the
cross-table key invariants (``cst_key = 'AW' + id``, ``NAS``-prefixed
and dash-separated ERP ids, sales keys drawn from product and
customer keys with a few orphans). ``scale`` multiplies the reference
row counts (cust_info 18,493, prd_info 397, sales_details 60,398);
the 36-row category lookup never scales.

:func:`write` returns the rows per table and the count of each dirt
class it injected, so tests can check that every class is present.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

# Category lookup: 4 categories x 9 subcategories = 36 rows.
_CATS = {
    "AC": ("Accessories", ["Bike Racks", "Bike Stands", "Bottles and Cages",
                           "Cleaners", "Fenders", "Helmets", "Hydration Packs",
                           "Lights", "Locks"]),
    "BI": ("Bikes", ["Mountain Bikes", "Road Bikes", "Touring Bikes",
                     "Cargo Bikes", "Kids Bikes", "E-Bikes", "Tandems",
                     "Folding Bikes", "Gravel Bikes"]),
    "CL": ("Clothing", ["Bib-Shorts", "Caps", "Gloves", "Jerseys", "Shorts",
                        "Socks", "Tights", "Vests", "Jackets"]),
    "CO": ("Components", ["Bottom Brackets", "Brakes", "Chains", "Cranksets",
                          "Derailleurs", "Forks", "Handlebars", "Headsets",
                          "Wheels"]),
}
_LINES = ["M", "R", "S", "T", "M ", "R ", "S ", "T ", ""]
_COUNTRIES = ["Australia", "Canada", "DE", "France", "Germany", "US", "USA",
              "United Kingdom", "United States", "", " "]
_GENDERS = ["Male", "Female", "M ", "F ", "M", "F", ""]
_FIRST = ["Jon", "Eugene", "Ruben", "Christy", "Elizabeth", "Julio", "Janet",
          "Marco", "Rob", "Shannon", "Jacquelyn", "Curtis", "Lauren", "Ian"]
_LAST = ["Yang", "Huang", "Torres", "Zhu", "Johnson", "Ruiz", "Alvarez",
         "Mehta", "Verhoff", "Carlson", "Suarez", "Lu", "Walker", "Jenkins"]

FILES = {
    "crm_cust_info": "cust_info.csv",
    "crm_prd_info": "prd_info.csv",
    "crm_sales_details": "sales_details.csv",
    "erp_cust_az12": "CUST_AZ12.csv",
    "erp_loc_a101": "LOC_A101.csv",
    "erp_px_cat_g1v2": "PX_CAT_G1V2.csv",
}

# FIXTURES.md dirt classes, each injected at least once at any scale.
DIRT_CLASSES = (
    "cust_null_id", "cust_duplicate_id", "cust_padded_name",
    "cust_blank_marital", "cust_blank_gender",
    "prd_null_cost", "prd_padded_line", "prd_scd_history",
    "sales_invalid_order_dt", "sales_bad_sales", "sales_mismatch_sales",
    "sales_null_zero_price", "sales_negative_price",
    "sales_orphan_customer", "sales_orphan_product",
    "az12_nas_prefix", "az12_plain_cid", "az12_future_bdate",
    "az12_padded_gender", "az12_blank_gender",
    "loc_dash_cid", "loc_code_country", "loc_blank_country",
)


def _days(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _iso(days: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(days.astype("datetime64[D]"))


def _ymd_int(days: np.ndarray) -> np.ndarray:
    s = np.char.replace(_iso(days), "-", "")
    return s.astype(np.int64)


def _pick(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    """``k`` distinct row positions out of ``n`` (at least one)."""
    return rng.choice(n, size=max(1, min(k, n)), replace=False)


def write(out_dir: str, seed: int, scale: int) -> dict[str, dict[str, int]]:
    """Write the six CSVs under ``out_dir``; return rows per table and
    the count of each injected dirt class."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    dirt: dict[str, int] = {}

    # ---- customers (crm_cust_info + ERP twins) ----
    n_cust = 18_493 * scale
    ids = 11_000 + np.arange(n_cust)
    keys = np.char.add("AW", np.char.zfill(ids.astype(str), 8))
    first = rng.choice(_FIRST, n_cust).astype(object)
    last = rng.choice(_LAST, n_cust).astype(object)
    padded = _pick(rng, n_cust, n_cust // 10)
    first[padded] = " " + first[padded]
    last[padded] = last[padded] + " "
    dirt["cust_padded_name"] = len(padded)
    marital = rng.choice(["M", "S", ""], n_cust, p=[0.48, 0.48, 0.04])
    gndr = rng.choice(["M", "F", ""], n_cust, p=[0.45, 0.45, 0.10])
    dirt["cust_blank_marital"] = int((marital == "").sum())
    dirt["cust_blank_gender"] = int((gndr == "").sum())
    create = np.full(n_cust, _days(dt.date(2025, 10, 6)))
    create -= rng.integers(0, 400, n_cust) * (rng.random(n_cust) < 0.05)
    cust = pd.DataFrame({
        "cst_id": pd.array(ids, dtype="Int64"), "cst_key": keys,
        "cst_firstname": first, "cst_lastname": last,
        "cst_marital_status": marital, "cst_gndr": gndr,
        "cst_create_date": _iso(create),
    })
    # Duplicated ids: an older copy (dedup keeps the latest) and, for
    # every other one, a copy with no create date (sorted last).
    dup = _pick(rng, n_cust, 6 * scale)
    older = cust.iloc[dup].copy()
    older["cst_create_date"] = _iso(create[dup] - 30)
    older["cst_firstname"] = older["cst_firstname"] + "  "
    undated = older.iloc[::2].copy()
    undated["cst_create_date"] = ""
    dirt["cust_duplicate_id"] = len(older) + len(undated)
    # Rows without an id (dropped by silver).
    nulls = cust.iloc[_pick(rng, n_cust, 4 * scale)]
    dirt["cust_null_id"] = len(nulls)
    cust = pd.concat([cust, older, undated, nulls], ignore_index=True)
    cust.loc[len(cust) - len(nulls):, "cst_id"] = pd.NA
    cust = cust.iloc[rng.permutation(len(cust))]

    # ERP demographics: NAS prefix on most ids, 16/scale future dates.
    az_rows = _pick(rng, n_cust, n_cust - 10 * scale)
    az_rows.sort()
    nas = rng.random(len(az_rows)) < 0.95
    dirt["az12_nas_prefix"] = int(nas.sum())
    dirt["az12_plain_cid"] = int((~nas).sum())
    bdate = rng.integers(_days(dt.date(1916, 2, 10)),
                         _days(dt.date(2014, 12, 31)), len(az_rows))
    future = _pick(rng, len(az_rows), 16 * scale)
    bdate[future] = rng.integers(_days(dt.date(2027, 1, 1)),
                                 _days(dt.date(2060, 1, 1)), len(future))
    dirt["az12_future_bdate"] = len(future)
    gen = rng.choice(_GENDERS, len(az_rows),
                     p=[0.30, 0.30, 0.12, 0.12, 0.06, 0.06, 0.04])
    gen[_pick(rng, len(az_rows), scale)] = " "
    dirt["az12_padded_gender"] = int(np.isin(gen, ["M ", "F "]).sum())
    dirt["az12_blank_gender"] = int(np.isin(gen, ["", " "]).sum())
    az_keys = keys[az_rows]
    az12 = pd.DataFrame({
        "CID": np.where(nas, np.char.add("NAS", az_keys), az_keys),
        "BDATE": _iso(bdate), "GEN": gen,
    })

    # ERP location: dash after the AW prefix, country codes and blanks.
    loc_rows = _pick(rng, n_cust, n_cust - 9 * scale)
    loc_rows.sort()
    loc_keys = keys[loc_rows]
    cntry = rng.choice(
        _COUNTRIES, len(loc_rows),
        p=[0.20, 0.14, 0.05, 0.09, 0.05, 0.12, 0.05, 0.09, 0.17, 0.02, 0.02])
    dirt["loc_dash_cid"] = len(loc_rows)
    dirt["loc_code_country"] = int(np.isin(cntry, ["DE", "US", "USA"]).sum())
    dirt["loc_blank_country"] = int(np.isin(cntry, ["", " "]).sum())
    loc = pd.DataFrame({
        "CID": np.char.add("AW-", np.char.lstrip(loc_keys, "AW")),
        "CNTRY": cntry,
    })

    # ---- categories and products ----
    cat_rows = [(f"{code}_{chr(65 + i)}{sub[0].upper()}", cat, sub,
                 "Yes" if (i + len(code)) % 3 else "No")
                for code, (cat, subs) in _CATS.items()
                for i, sub in enumerate(subs)]
    px = pd.DataFrame(cat_rows, columns=["ID", "CAT", "SUBCAT", "MAINTENANCE"])

    n_keys = 295 * scale
    cat_ids = rng.choice(px["ID"].to_numpy(dtype=str), n_keys)
    # One product line in 50 points at a category missing from the lookup.
    cat_ids[_pick(rng, n_keys, n_keys // 50)] = "CO_PE"
    prod_keys = np.array([
        f"{chr(65 + i % 26)}{chr(65 + i // 26 % 26)}-{i:05d}-{40 + i % 23}"
        for i in range(n_keys)])
    versions = rng.choice([1, 2, 3], n_keys, p=[0.75, 0.15, 0.10])
    dirt["prd_scd_history"] = int((versions > 1).sum())
    key_idx = np.repeat(np.arange(n_keys), versions)
    n_prd = len(key_idx)
    start = np.repeat(rng.integers(_days(dt.date(2003, 7, 1)),
                                   _days(dt.date(2011, 7, 1)), n_keys), versions)
    start = start + 365 * (np.arange(n_prd) - np.repeat(
        np.cumsum(versions) - versions, versions))
    line = rng.choice(_LINES, n_prd)
    dirt["prd_padded_line"] = int(np.char.endswith(line.astype(str), " ").sum())
    cost = pd.array(rng.integers(1, 2_000, n_prd), dtype="Int64")
    null_cost = _pick(rng, n_prd, 2 * scale)
    cost[null_cost] = pd.NA
    dirt["prd_null_cost"] = len(null_cost)
    prd = pd.DataFrame({
        "prd_id": 210 + np.arange(n_prd),
        "prd_key": np.char.add(np.char.add(
            np.char.replace(cat_ids[key_idx], "_", "-"), "-"),
            prod_keys[key_idx]),
        "prd_nm": np.char.add("Product ", prod_keys[key_idx]),
        "prd_cost": cost,
        "prd_line": line,
        "prd_start_dt": _iso(start),
        # Source end dates are unreliable (recomputed by silver).
        "prd_end_dt": _iso(start + rng.integers(-200, 400, n_prd)),
    })

    # ---- sales ----
    n_sales = 60_398 * scale
    order_of = np.sort(rng.integers(0, n_sales * 10 // 27, n_sales))
    order_num = np.char.add("SO", (43_697 + order_of).astype(str))
    cust_id = rng.choice(ids, n_sales)
    orphan_c = _pick(rng, n_sales, 3 * scale)
    cust_id[orphan_c] = 900_000 + np.arange(len(orphan_c))
    dirt["sales_orphan_customer"] = len(orphan_c)
    prd_key = prod_keys[rng.integers(0, n_keys, n_sales)]
    orphan_p = _pick(rng, n_sales, 3 * scale)
    prd_key[orphan_p] = "ZZ-99999-99"
    dirt["sales_orphan_product"] = len(orphan_p)
    order_day = rng.integers(_days(dt.date(2010, 12, 29)),
                             _days(dt.date(2014, 1, 28)), n_sales)
    order_dt = _ymd_int(order_day)
    bad_dt = _pick(rng, n_sales, 19 * scale)
    order_dt[bad_dt] = rng.choice([0, 5489, 32154, 201012], len(bad_dt))
    dirt["sales_invalid_order_dt"] = len(bad_dt)
    qty = rng.choice([1, 1, 1, 2, 3], n_sales)
    price = rng.integers(2, 3_600, n_sales).astype(object)
    sales = (qty * price).astype(object)
    # Mutually exclusive dirt rows, drawn once.
    rows = rng.permutation(n_sales)
    k_bad, k_mis, k_zero, k_neg = 13 * scale, 22 * scale, 7 * scale, 12 * scale
    bad = rows[:k_bad]
    mis = rows[k_bad:k_bad + k_mis]
    zero = rows[k_bad + k_mis:k_bad + k_mis + k_zero]
    neg = rows[k_bad + k_mis + k_zero:k_bad + k_mis + k_zero + k_neg]
    sales[bad] = rng.choice([None, 0, -10], len(bad))
    sales[mis] = sales[mis] + rng.integers(1, 50, len(mis))
    price[zero] = rng.choice([None, 0], len(zero))
    price[neg] = -price[neg]
    dirt["sales_bad_sales"] = len(bad)
    dirt["sales_mismatch_sales"] = len(mis)
    dirt["sales_null_zero_price"] = len(zero)
    dirt["sales_negative_price"] = len(neg)
    sls = pd.DataFrame({
        "sls_ord_num": order_num, "sls_prd_key": prd_key,
        "sls_cust_id": cust_id, "sls_order_dt": order_dt,
        "sls_ship_dt": _ymd_int(order_day + 7),
        "sls_due_dt": _ymd_int(order_day + 12),
        "sls_sales": pd.array(sales, dtype="Int64"),
        "sls_quantity": qty,
        "sls_price": pd.array(price, dtype="Int64"),
    })

    frames = {
        "crm_cust_info": cust, "crm_prd_info": prd,
        "crm_sales_details": sls, "erp_cust_az12": az12,
        "erp_loc_a101": loc, "erp_px_cat_g1v2": px,
    }
    for table, frame in frames.items():
        frame.to_csv(os.path.join(out_dir, FILES[table]), index=False,
                     lineterminator="\n")
    return {"rows": {t: len(f) for t, f in frames.items()}, "dirt": dirt}
