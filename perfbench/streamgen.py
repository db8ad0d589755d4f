"""Seeded trip-record generator for the stream_ingest workload.

Writes JSON lines in the reference's 8-field trip schema (Schemas.tripStream)
and returns what a correct pipeline must end up with: the valid rows, their
fare sum in integer cents and the group counts the dashboard aggregates see.
The same seed always writes the same bytes.
"""
import datetime
import os
import random

# Two triggers of 60,000 records. A warm trigger of the pipeline took
# 1.65 s with 60,000 records and 2.09 s with 120,000 (local[4], 4 vCPUs):
# about 1.2 s whatever its size plus about 7.4 us per record. So the
# per-trigger fixed cost is about three quarters of each trigger here, and
# that is what the workload mainly measures. Twice the records made the
# warm pass spread 0.17 of its median across five seeds, against 0.03.
ROWS = 120000
FILES = 4
FILES_PER_TRIGGER = 2
DAYS = 14
VENDORS = (1, 2, 3)
MALFORMED_SHARE = 0.02
INVALID_SHARE = 0.03
# Pickup and drop-off dates, from 2024-01-01 (a drop-off may fall on the
# day after the last pickup day).
DATES = [(datetime.date(2024, 1, 1) + datetime.timedelta(days=i)).isoformat()
         for i in range(DAYS + 1)]


def _ts(sec):
    day, rem = divmod(sec, 86400)
    return f"{DATES[day]} {rem // 3600:02d}:{rem // 60 % 60:02d}:{rem % 60:02d}"


def _money(cents):
    return f"{cents / 100:.2f}"


def generate(out_dir, seed, rows=ROWS):
    rng = random.Random(seed)
    rnd = rng.random
    os.makedirs(out_dir, exist_ok=True)
    valid = cents_sum = 0
    vendors, date_hours, vendor_dates = set(), set(), set()
    per_file = -(-rows // FILES)
    written = 0
    for f in range(FILES):
        n = min(per_file, rows - written)
        lines = []
        for _ in range(n):
            vendor = VENDORS[int(rnd() * len(VENDORS))]
            pickup = int(rnd() * DAYS * 86400)
            duration = 60 + int(rnd() * 7140)
            passengers = 1 + int(rnd() * 6)
            dist = int(rnd() * 3000)
            fare = 250 + int(rnd() * 14750)
            tip = int(rnd() * 3000)
            kind = rnd()
            ok = True
            if kind < INVALID_SHARE:
                ok = False
                bad = rng.randrange(4)
                if bad == 0:
                    fare = -fare
                elif bad == 1:
                    dist = -dist - 1
                elif bad == 2:
                    duration = 0
                else:
                    duration = 300 * 60 + rng.randrange(1, 3600)
            line = (f'{{"VendorID": {vendor}, "tpep_pickup_datetime": "{_ts(pickup)}", '
                    f'"tpep_dropoff_datetime": "{_ts(pickup + duration)}", '
                    f'"passenger_count": {passengers}, "trip_distance": {_money(dist)}, '
                    f'"fare_amount": {_money(fare)}, "tip_amount": {_money(tip)}, '
                    f'"total_amount": {_money(fare + tip)}}}')
            if INVALID_SHARE <= kind < INVALID_SHARE + MALFORMED_SHARE:
                ok = False
                # Cut before the fare, so no partial parse can pass the filter.
                line = line[:rng.randrange(5, line.index('"fare_amount"'))]
            lines.append(line)
            if ok:
                valid += 1
                cents_sum += fare
                day = pickup // 86400
                vendors.add(vendor)
                date_hours.add((day, pickup % 86400 // 3600))
                vendor_dates.add((vendor, day))
        with open(os.path.join(out_dir, f"trips-{f:04d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        written += n
    return {"rows_total": written, "rows_valid": valid, "fare_cents": cents_sum,
            "vendors": len(vendors), "date_hours": len(date_hours),
            "vendor_dates": len(vendor_dates)}
