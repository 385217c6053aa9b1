#!/usr/bin/env python3
"""Pin market-stats GENERATION expectations by RUNNING the reference's
process_data (regex_analyzer.py:849-1022) over a synthetic item corpus,
flattening the produced market_stats.json tree into rows that
StatsGenFidelitySpec replays against RiskEngine.generateMarketStats.

Regenerate with: python3 tools/stats_fidelity_gen.py

Runs only where the reference checkout exists (the poller package
under /root/reference); elsewhere it exits with one line naming the
missing path.
"""
import json
import os
import sys

POLLER = "/root/reference/poller"
if not os.path.isdir(POLLER):
    sys.exit(f"stats_fidelity_gen: reference checkout missing: {POLLER} not found")
sys.path.insert(0, POLLER)
os.chdir("/tmp")  # process_data writes market_stats.json to cwd
import regex_analyzer as ra  # noqa: E402


def mk_items():
    items = []  # (nested-for-reference, flat-for-spec)

    def add(title, desc, price, api_cond=None, refurb=False):
        it = {"title": title, "description": desc, "price": price}
        if api_cond:
            it["type_attributes"] = {"condition": {"value": api_cond}}
        if refurb:
            it["is_refurbished"] = {"flag": True}
        flat = {"title": title, "description": desc, "price": price,
                "api_condition": api_cond, "is_refurbished": refurb}
        items.append((it, flat))

    # APPLE / USED cluster (m1 8gb) — enough for component stats
    for p in (380.0, 420.0, 450.0, 500.0, 395.5):
        add("macbook air m1 8gb", "funciona perfectamente sin detalles", p)
    # APPLE / NEW via api condition
    for p in (900.0, 950.0, 1020.0):
        add("macbook pro m3 16gb", "portatil apple top", p, api_cond="new")
    # GAMING / USED (i7 + rtx 3060 + 16gb)
    for p in (600.0, 640.0, 700.0, 720.0):
        add("portatil gaming i7 rtx 3060 16gb ram", "va muy bien todo original", p)
    # GAMING / LIKE_NEW via refurbished flag
    for p in (760.0, 800.0):
        add("portatil gaming i7 rtx 3060 16gb ram", "revisado por tienda", p, refurb=True)
    # WORKSTATION / USED (i5 8gb)
    for p in (180.0, 200.0, 230.0):
        add("thinkpad i5 8gb", "portatil de empresa correcto", p)
    # CHROMEBOOK / NEW (text-detected)
    for p in (120.0, 140.0):
        add("chromebook celeron 4gb", "nuevo precintado sin abrir", p)
    # single-sample group → must be dropped by min-support 2
    add("surface pro 8 i5", "tablet con teclado funciona genial", 350.0)
    # BROKEN secondary segment (>3 needed)
    for p in (60.0, 75.0, 90.0, 45.0, 82.5):
        add("portatil hp i5 8gb", "roto no enciende para piezas", p)
    # ACCESSORY (only 2 → below the >3 secondary cutoff, dropped)
    add("funda de portatil", "funda acolchada nueva", 15.0)
    add("raton gaming", "raton con cable", 20.0)
    # UNCERTAIN: symbolic prices + no-spec items (>3 needed)
    for p in (1.0, 2.0, 1.5):
        add("portatil barato oferta", "pregunta precio real", p)
    for p in (150.0, 180.0):
        add("ordenador sin especificar", "sin detalles tecnicos", p)
    # JUNK — dropped entirely
    add("portatil gaming i9", "precio disparatado", 25000.0)
    # edge sweep:
    # api condition has_given_it_all → BROKEN route even with specs
    add("portatil dell i5 8gb", "funciona", 110.0, api_cond="has_given_it_all")
    # api 'used_worn' (unmapped) → USED
    add("thinkpad i5 8gb", "algo gastado", 160.0, api_cond="used_worn")
    # zero-variance group: two identical prices (stdev must be exactly 0
    # in the reference; the Spark side's clamped formula must agree)
    add("imac 24 apple m1 8gb", "perfecto estado", 777.0)
    add("imac 24 apple m1 8gb", "perfecto estado", 777.0)
    # UNCERTAIN via segment (no cpu AND no ram even at normal price)
    add("ordenador de mesa completo", "monitor incluido sin datos", 220.0)
    # BROKEN text + NEW api: api wins (NEW)
    add("macbook pro m3 16gb", "no enciende para piezas", 880.0, api_cond="new")
    return items


def flatten(stats):
    rows = []
    for cat, node in stats.items():
        if "mean" in node and "components" not in node:
            rows.append({"category": cat, "condition": None, "comp_type": None,
                         "comp_name": None, "mean": node["mean"], "median": None,
                         "stdev": None, "count": node["count"]})
            continue
        for cond, sn in node.items():
            rows.append({"category": cat, "condition": cond, "comp_type": None,
                         "comp_name": None, "mean": sn["mean"],
                         "median": sn["median"], "stdev": sn["stdev"],
                         "count": sn["count"]})
            for ctype, comps in sn.get("components", {}).items():
                for cname, cs in comps.items():
                    rows.append({"category": cat, "condition": cond,
                                 "comp_type": ctype, "comp_name": cname,
                                 "mean": cs["mean"], "median": cs["median"],
                                 "stdev": cs["stdev"], "count": cs["count"]})
    return rows


PROBES = [
    # end-to-end: scored against the REGENERATED stats (not the
    # reference's packaged file) — closes the generate→score loop
    (101, "macbook air m1 8gb", "algo de uso pero bien cuidado", 300.0),
    (102, "macbook air m1 8gb", "whatsapp 677112233", 250.0),
    (103, "portatil gaming i7 rtx 3060 16gb ram", "como nuevo apenas estrenado", 500.0),
    (104, "macbook pro m3 16gb", "nuevo precintado", 700.0),
    (105, "thinkpad i5 8gb", "correcto", 500.0),
    (106, "chromebook celeron 4gb", "nuevo a estrenar", 40.0),
    (107, "portatil sin marca", "sin datos", 100.0),
]


def score_probes():
    import types as _t
    sys.modules.setdefault("requests", _t.ModuleType("requests"))
    req = sys.modules["requests"]
    if not hasattr(req, "Response"):
        req.Response = type("Response", (), {})
    import poller
    with open("/tmp/market_stats.json", encoding="utf-8") as f:
        poller.MARKET_STATS = json.load(f)
    rows = []
    for pid, title, desc, price in PROBES:
        r = poller.calculate_risk_base(
            {"title": title, "description": desc, "price": price})
        ma = r["market_analysis"]
        # factor-string parity is covered by RiskFidelitySpec; keep
        # probe rows flat (no nested arrays) for the spec's parser
        rows.append({"item_id": pid, "title": title, "description": desc,
                     "price": price, "risk_score": r["risk_score"],
                     "n_factors": len(r["risk_factors"]),
                     "composite_z": ma["composite_z_score"],
                     "estimated_value": ma["estimated_market_value"],
                     "detected_category": ma["detected_category"],
                     "detected_condition": ma["detected_condition"]})
    return rows


def main():
    pairs = mk_items()
    with open("/tmp/stats_input.json", "w", encoding="utf-8") as f:
        json.dump([p[0] for p in pairs], f)
    ra.process_data("/tmp/stats_input.json")
    with open("/tmp/market_stats.json", encoding="utf-8") as f:
        stats = json.load(f)
    out = {"items": [p[1] for p in pairs], "expected": flatten(stats),
           "probes": score_probes()}
    path = "/root/repo/src/test/resources/statsgen_cases.json"
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, ensure_ascii=False)
    print(f"wrote {len(pairs)} items, {len(out['expected'])} expected rows to {path}")


if __name__ == "__main__":
    main()
