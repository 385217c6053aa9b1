#!/usr/bin/env python3
"""Pin item-level risk-engine expectations by RUNNING the reference's
calculate_risk_base with its own market_stats.json, over a case sweep
covering: symbolic prices, component/category signal mixes, the
NEW-condition fallback (est ×1.2 + z rebase), short-desc and
external-contact heuristics, and clamping.

Regenerate with: python3 tools/risk_fidelity_gen.py

Runs only where the reference checkout exists (the poller package and
market_stats.json under /root/reference); elsewhere it exits with one
line naming the missing path.
"""
import json
import os
import sys
import types

# poller.py imports `requests` (absent driver-side) — stub it; the risk
# engine itself never touches the network.
_req = types.ModuleType("requests")
_req.Response = type("Response", (), {})
_req.exceptions = types.SimpleNamespace(RequestException=Exception)
sys.modules.setdefault("requests", _req)
REFERENCE = "/root/reference"
for need in (os.path.join(REFERENCE, "poller"), os.path.join(REFERENCE, "market_stats.json")):
    if not os.path.exists(need):
        sys.exit(f"risk_fidelity_gen: reference checkout missing: {need} not found")
sys.path.insert(0, os.path.join(REFERENCE, "poller"))
os.chdir(REFERENCE)  # poller loads market_stats.json from cwd
import poller  # noqa: E402

CASES = [
    # (item_id, title, description, price)
    (1, "macbook air m1 8gb", "impecable funciona perfecto sin detalles", 250.0),
    (2, "macbook air m1 8gb", "impecable funciona perfecto sin detalles", 480.0),
    (3, "macbook pro m3 16gb", "nuevo precintado con factura y garantia de apple", 700.0),
    (4, "macbook pro m3 16gb", "nuevo precintado con factura y garantia de apple", 1800.0),
    (5, "portatil gaming i7 rtx 3060 16gb ram", "poco uso funciona sin problemas todo original", 400.0),
    (6, "portatil gaming i7 rtx 3060 16gb ram", "whatsapp 612345678", 400.0),
    (7, "portatil gaming i7 rtx 3060 16gb ram", "va genial", 900.0),
    (8, "thinkpad i5 8gb", "portatil de empresa funcionando correctamente", 120.0),
    (9, "chromebook celeron 4gb", "para estudiar va bien sin problemas", 90.0),
    (10, "portatil hp barato", "regalo 1 euro simbolico", 1.0),
    (11, "xps 13 i7 16gb", "ultrabook premium pantalla preciosa estado impecable", 350.0),
    (12, "surface pro 8 i5", "tablet microsoft con teclado funciona genial", 300.0),
    (13, "portatil generico", "sin marca va lento pero funciona para oficina", 150.0),
    (14, "alienware i9 rtx 2080 32gb", "", 3000.0),
    (15, "alienware i9 rtx 2080 32gb", "gamer", 500.0),
    (16, "macbook pro 2019 i9", "radeon pro vega estado aceptable bateria nueva", 600.0),
    (17, "legion 5 ryzen 7 rtx 3070 16gb", "nuevo a estrenar precintado en caja", 650.0),
    (18, "portatil roto para piezas i7", "no enciende placa danada se vende tal cual", 80.0),
    (19, "chromebook 8gb nuevo", "precintado sin abrir con garantia", 60.0),
    (20, "mac mini m1 8gb", "llamame al 677889900 urge venta", 200.0),
    (21, "portatil gaming rtx 4070", "nuevo sin estrenar", 700.0),
    (22, "portatil viejo pentium", "funciona lento 4gb", 40.0),
    (23, "workstation zbook quadro i7 32gb", "estacion de trabajo profesional revisada", 500.0),
    (24, "macbook air m1 16gb", "como nuevo apenas usado con cargador original", 420.0),
    (25, "pc gamer i5 gtx 1650 16gb", "torre gaming completa funcionando", 280.0),
    # edge sweep: fallback chains, boundary prices, mixed signals
    (26, "macbook m1 o intel i5", "dudas entre ambos va fino", 300.0),     # apple veto under scoring
    (27, "portatil gaming i7 128gb", "tambien 16gb ram instalada", 450.0), # over-cap ram re-extract
    (28, "portatil i7", "corto", 250.0),                                   # short desc, price just over 200
    (29, "portatil i7", "corto", 199.0),                                   # short desc, under the 200 gate
    (30, "chromebook i7 32gb", "celeron n4020 en realidad nuevo precintado", 150.0), # downgrade + NEW fallback
    (31, "surface pro x sq1 8gb", "como nuevo con teclado", 280.0),        # qualcomm path
    (32, "portatil generico", "whatsapp 612345678 nuevo precintado", 4.99),# symbolic price trumps everything
    (33, "torre xeon quadro p2000 32gb", "nuevo a estrenar", 400.0),       # workstation NEW fallback
    (34, "macbook pro m3 max 36gb", "impecable", 2500.0),                  # multiword apple model
    (35, "portatil ryzen-7 rtx 3060", "contactar por wasap", 350.0),       # dashed ryzen + contact keyword
]


def main():
    out = []
    for item_id, title, desc, price in CASES:
        r = poller.calculate_risk_base(
            {"title": title, "description": desc, "price": price})
        ma = r["market_analysis"]
        out.append({
            "item_id": item_id, "title": title, "description": desc,
            "price": price,
            "risk_score": r["risk_score"],
            "risk_factors": r["risk_factors"],
            "composite_z": ma["composite_z_score"],
            "estimated_value": ma["estimated_market_value"],
            "detected_category": ma["detected_category"],
            "detected_condition": ma["detected_condition"],
            "cpu": ma["specs_detected"].get("cpu"),
            "ram": ma["specs_detected"].get("ram"),
            "gpu": ma["specs_detected"].get("gpu"),
        })
    path = "/root/repo/src/test/resources/risk_cases.json"
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, ensure_ascii=False)
    print(f"wrote {len(out)} cases to {path}")


if __name__ == "__main__":
    main()
