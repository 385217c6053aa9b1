#!/usr/bin/env python3
"""Generate spec-extraction fidelity expectations by RUNNING the
reference implementation (read-only at /root/reference) over a curated
case corpus, and pinning its outputs to a committed JSON file that
TextSpecsFidelitySpec replays against the Spark implementation.

Regenerate with: python3 tools/fidelity_gen.py

Runs only where the reference checkout exists (the poller package
under /root/reference); elsewhere it exits with one line naming the
missing path.
"""
import json
import os
import sys

POLLER = "/root/reference/poller"
if not os.path.isdir(POLLER):
    sys.exit(f"fidelity_gen: reference checkout missing: {POLLER} not found")
sys.path.insert(0, POLLER)
import regex_analyzer as ra  # noqa: E402

CASES = [
    # (title, description)
    ("macbook pro m2 max 16gb", "impecable con factura. ssd m.2 1tb"),
    ("gaming intel core i7 rtx 4070 16gb ram", "envio rapido"),
    ("intel i7 portatil gaming", ""),
    ("thinkpad amd ryzen 7 32gb 512 gb ssd", ""),
    ("chromebook celeron 8gb nuevo precintado", ""),
    ("portatil para piezas no enciende", ""),
    ("portatil 16gb ram", "disco 512 gb ssd y 1000gb hdd"),
    ("laptop 8gb o 16gb", ""),
    ("laptop 13gb", ""),
    ("thinkpad con ssd m.2 de 1tb", "intel core i5"),
    ("thinkpad con ssd m.2 de 1tb", "intel i5"),
    ("portatil m2 amd ryzen 5", ""),
    ("portatil m2", "amd ryzen 5"),
    ("torre gaming rtx3080", ""),
    ("pc con gtx 1660ti", ""),
    ("portatil basico", "buen estado\nrtx gtx amd intel ryzen i7 ps5 xbox iphone\nintel i9 oculto"),
    ("chromebook acer", "gaming top"),
    ("macbook air", ""),
    ("portatil msi", ""),
    ("portatil gaming msi", ""),
    ("lenovo yoga slim", ""),
    ("portatil rtx 4060", ""),
    ("chromebook 32gb", "tambien 8gb"),
    ("chromebook i7", "realmente celeron n4020"),
    ("portatil roto", "nuevo precintado"),
    ("portatil hp", "nuevo precintado impecable"),
    ("portatil dell", "impecable"),
    ("portatil lenovo", "va bien"),
    ("surface pro 9 i5", "microsoft surface teclado"),
    ("hp zbook quadro t2000", "workstation movil"),
    ("xps 13 i7 16gb", "ultrabook premium"),
    ("asus tuf a15 ryzen 7 rtx 3060", "16gb ram 512gb ssd nvme"),
    ("mac mini m1", "8gb de ram"),
    ("imac 24 pulgadas", "apple m1 8gb"),
    ("portatil xeon e3", "workstation antigua"),
    ("snapdragon sq2 surface pro x", ""),
    ("pentium gold portatil", "4gb ram"),
    ("portatil barato", "celeron 4gb para estudiar"),
    ("alienware m15 i9", "rtx 2080 super 32gb"),
    ("legion 5 pro", "ryzen 7 5800h rtx 3070 16 gb"),
    ("macbook pro 2019", "intel i9 32gb radeon"),
    ("portatil reacondicionado", "como nuevo garantia 1 año"),
    ("pc gamer i5-10400f", "gtx 1650 16gb"),
    ("ultrabook lg gram 17", "i7 16gb 1tb"),
    ("portatil tara pantalla", "i5 8gb funciona con pantalla externa rota"),
    # staged-extraction edge cases (cpu/gpu/ram scan staging refactor):
    ("macbook m1 o intel i5", "dudas entre ambos"),        # intel mention vetoes apple-M
    ("portatil intel sin modelo", ""),                     # brand without model → no cpu
    ("portatil ryzen-7 con ryzen 5 tambien", ""),          # dashed ryzen + best-of-two
    ("intel core-i7 portatil", "core i5 y tambien i3"),    # core-prefix drop quirk
    ("geforce gtx 1050 torre", ""),                        # geforce → NVIDIA brand
    ("portatil mx450 fino", ""),                           # MX-series gpu
    ("surface pro x sq1", ""),                             # qualcomm sq1
    ("macbook m3 max 36gb", ""),                           # m3 max multiword model
    ("portatil gaming i7 128gb", "tambien 16gb ram"),      # over-cap ram re-extract
    ("portatil amd", "radeon rx 6600"),                    # amd gpu via rx
    ("chromebook i7 potente", "pentium silver en realidad"), # chromebook downgrade→pentium
    ("torre xeon con quadro p2000", "workstation"),        # xeon + quadro pair
]


HIDDEN_PRICE_CASES = [
    ("vendo por 450 euros", "otros 9999 euros"),
    ("precio simbolico", "lo dejo en 300 euros"),
    ("sin nada", "30 euros de funda"),
    ("portatil", "precio: 650€ negociables"),
    ("regalo", "pido 80 euros por el"),
    ("oferta 19 euros", "simbolico"),          # structured ≤ 20 rejected
    ("valor 1200 eur", "y tambien 90 euros"),  # structured wins over loose
    ("portatil", "500 € o 700 euros"),         # loose max wins
    ("portatil", "6000 euros"),                # loose > 5000 rejected
    ("portatil", "49 euros"),                  # loose < 50 rejected
    ("portatil", "precio:1000euros"),
    ("vendo 350,50 euros", ""),                # decimals in structured
    ("portatil barato", "sin menciones"),
    # boundary sweep
    ("oferta 20 euros", "simbolico"),          # structured == 20 (boundary)
    ("oferta 21 euros", "simbolico"),          # structured just over
    ("portatil", "50 euros"),                  # loose == 50 (boundary)
    ("portatil", "5000 euros"),                # loose == 5000 (boundary)
    ("precio 4999 euros", ""),                 # structured high but valid
    ("portatil", "100 euros o mejor 100 euros"), # duplicate mentions
    ("vendo por 99,99 euros", "otros 50 euros"), # decimal structured + loose
]


def main():
    out = []
    for title, desc in CASES:
        specs, cat, cond = ra.get_prioritized_specs_and_category(title, desc)
        out.append({
            "title": title,
            "description": desc,
            "cpu": specs.get("cpu"),
            "ram": specs.get("ram"),
            "gpu": specs.get("gpu"),
            "category": cat,
            "condition": cond,
        })
    path = "src/test/resources/fidelity_cases.json"
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, ensure_ascii=False)
    print(f"wrote {len(out)} cases to {path}")

    hp = []
    for title, desc in HIDDEN_PRICE_CASES:
        hp.append({"title": title, "description": desc,
                   "hidden": ra.try_extract_hidden_price(title, desc)})
    path2 = "src/test/resources/hidden_price_cases.json"
    with open(path2, "w", encoding="utf-8") as f:
        json.dump(hp, f, indent=1, ensure_ascii=False)
    print(f"wrote {len(hp)} hidden-price cases to {path2}")


if __name__ == "__main__":
    main()
