"""Reference answers for the coordination workload.

A driver-side replay of the changelog that the benchmark generated,
plus every append it made, under the semantics documented on
``graft.api.CoordinationApi`` and the replay queries it is built from
(latest-wins by (ts, event_id); the A16 put/update/delete digit in the
payload's cents; TTL liveness against the log end; TTL-gap leader
sessions). It shares no code with graft, so a wrong API answer shows
as a disagreement here.
"""
import decimal
import math

TTL_US = 3600 * 1_000_000  # Coordination.DefaultTtlMicros


def op_digit(v):
    """round(v*100) % 10 with HALF_UP on the decimal form, as fetchCas."""
    if math.isnan(v):
        return 0
    d = decimal.Decimal(repr(v * 100)).quantize(
        decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP)
    return int(d) % 10


def payload(op, value):
    """The value CoordinationApi.append writes: cents digit forced to op's."""
    digit = {"put": 1, "update": 4, "delete": 0}[op]
    cents0 = math.floor(value * 100 + 0.5)  # java.lang.Math.round
    return (cents0 - cents0 % 10 + digit) / 100.0


class Log:
    """The changelog as per-(namespace, key) event lists in log order."""

    def __init__(self, cols):
        self.by_key = {}
        self.by_ns = {}
        self.log_end = None
        self.next_id = 0
        for eid, us, key, ns, v in zip(cols["event_id"], cols["us"],
                                       cols["user_id"], cols["event_type"],
                                       cols["value"]):
            self._add(int(eid), int(us), int(key), ns, float(v))
        for evs in self.by_key.values():
            evs.sort()

    def _add(self, eid, us, key, ns, v):
        self.by_key.setdefault((ns, key), []).append((us, eid, v))
        self.by_ns.setdefault(ns, set()).add(key)
        self.log_end = us if self.log_end is None else max(self.log_end, us)
        self.next_id = max(self.next_id, eid + 1)

    def append(self, ns, key, op, value, us):
        """Apply one append and return the event id it is given."""
        evs = self.by_key.get((ns, key), [])
        assert not evs or evs[-1][0] <= us, "appends must not go back in time"
        eid = self.next_id
        self._add(eid, us, key, ns, payload(op, value))
        return eid

    # ---- reads -----------------------------------------------------------

    def fetch(self, ns, key):
        evs = self.by_key.get((ns, key))
        return evs[-1][2] if evs else None

    def fetch_cas(self, ns, key):
        present, value = False, None
        for _, _, v in self.by_key.get((ns, key), []):
            d = op_digit(v)
            if d == 0:
                present = False
            elif d <= 3:
                present, value = True, v
            elif present:
                value = v
        return value if present else None

    def is_member(self, ns, key):
        evs = self.by_key.get((ns, key))
        return bool(evs) and evs[-1][0] >= self.log_end - TTL_US

    def get_leader(self, ns):
        best = None
        for key in self.by_ns.get(ns, ()):
            evs = self.by_key[(ns, key)]
            if evs[-1][0] < self.log_end - TTL_US:
                continue  # last session ended too long ago: not live
            i = len(evs) - 1  # walk back to the live session's first event
            while i > 0 and evs[i][0] - evs[i - 1][0] <= TTL_US:
                i -= 1
            cand = (evs[i][0], key, evs[-1][2])
            if best is None or cand[:2] < best[:2]:
                best = cand
        return None if best is None else [best[1], best[2]]

    def membership_list(self, ns):
        out = []
        for key in sorted(self.by_ns.get(ns, ())):
            us, _, v = self.by_key[(ns, key)][-1]
            if us >= self.log_end - TTL_US:
                out.append([key, v])
        return out


def expected(log, op):
    """Apply a write, or answer a read, exactly as the API should."""
    kind, ns = op["op"], op["ns"]
    if kind in ("put", "update", "delete"):
        return log.append(ns, op["key"], kind, op.get("value", 0.0), op["ts_us"])
    if kind == "joinGroup":
        return log.append(ns, op["key"], "put", op["value"], op["ts_us"])
    if kind == "leaveGroup":
        return log.append(ns, op["key"], "delete", 0.0, op["ts_us"])
    if kind == "fetch":
        return log.fetch(ns, op["key"])
    if kind == "fetchCas":
        return log.fetch_cas(ns, op["key"])
    if kind == "isMember":
        return log.is_member(ns, op["key"])
    if kind == "getLeader":
        return log.get_leader(ns)
    if kind == "membershipList":
        return log.membership_list(ns)
    raise ValueError(f"unknown op {kind}")
