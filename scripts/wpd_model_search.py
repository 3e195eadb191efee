"""Grid the WPD HTML-emission knobs against the reference golden length.

The reference golden (doctor tests.py:238-242) is len(content) == 14,259
for word-perfect.wpd after wpd2html → lxml Cleaner.  kernels/wpd.py's
defaults are the semantically-grounded model (each knob justified by the
fixture's byte stream); this script documents how far any knob
combination can reach, showing the residual is serialization framing, not
a dropped structure this grid could recover.
"""
import itertools, sys
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from doctor_spark.kernels.wpd import RenderOpts, extract_from_wpd_bytes

data = open("/root/reference/doctor/test_assets/word-perfect.wpd", "rb").read()
GOLD = 14259
rows = []
for tab, dlt, lang, eoc, dorm, esp, hid in itertools.product(
    ("\t", "", " "), (False, True), (True, False), (False, True),
    (True, False), (False, True), (False, True)
):
    o = RenderOpts(tab=tab, drop_leading_tabs=dlt, lang_splits_span=lang,
                   soft_eoc_breaks_para=eoc, dormant_eol_para=dorm,
                   empty_para_span=esp, render_hidden_notes=hid)
    content, err, rc = extract_from_wpd_bytes(data, o)
    if rc == 0:
        rows.append((abs(len(content) - GOLD), len(content), o))
rows.sort(key=lambda r: r[0])
print("default:", len(extract_from_wpd_bytes(data)[0]))
for d, L, o in rows[:8]:
    print(d, L, o)
