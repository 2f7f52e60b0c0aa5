"""Vectorized fixed-layout decode fast path (VERDICT r8 item 1).

The per-row Python decoders in operators/decode.py are semantically
authoritative (golden- and fuzz-pinned); this module re-expresses the
FIXED-LAYOUT subset of them as batch operations so the Arrow stage in
plans/pipeline.py never materializes Python objects for the hot types:

- numeric payload fields are gathered straight off the Arrow binary
  value buffer with NumPy fancy indexing (`buf[starts[:,None]+arange]`
  -> `.view('<u8')`), per event_type group;
- account fields are an index computation over the ListArray offsets of
  `resolved_accounts` plus ONE `take` per field on the flat string
  child — account pubkeys never become Python strings;
- the J1 CPI merge decodes the fixed CPI structs (pumpfun_trade 250 B,
  pumpswap buy/sell/deposit/withdraw 385/352/248/248 B, bonk_trade
  139 B, meteora_swap 180 B) the same way and applies the merge as
  masked `if_else`/`np.where` — only CPI-side base58 pubkeys touch
  Python (memoized bignum, see decode.b58encode);
- rows the specs cannot express (var-length Borsh strings, option
  tails, >=2 CPI candidates) defer to the caller's per-row loop, so the
  two paths compose row-exactly.

Layout offsets cite the same reference lines as decode.py (e.g.
pumpfun/parser.rs:239-274 for the buy layout, bonk/events.rs:74-81 for
the 139-byte trade CPI); equality with the per-row decoders is enforced
by tests/test_decode_vectorized.py (fixture differential + corruption
property test) on top of the existing goldens.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..registry import (BONK_BUY_TYPES, BONK_SELL_TYPES, MERGE_SPECS,
                        ZERO_PUBKEY)
from .decode import b58encode
from .swap import scan_swap_data

# ---------------------------------------------------------------------------
# Raw-buffer readers
# ---------------------------------------------------------------------------

_NBYTES = {"u8": 1, "u16": 2, "u32": 4, "u64": 8, "i32": 4, "i64": 8,
           "u128": 16}
_NPVIEW = {"u8": "<u1", "u16": "<u2", "u32": "<u4", "u64": "<u8",
           "i32": "<i4", "i64": "<i8"}


def _bin_view(arr: pa.Array):
    """(value_buffer, absolute int64 offsets) of a Binary/String array.

    The offsets view hard-assumes 32-bit offsets; a LargeBinary/
    LargeString array (e.g. spark.sql.execution.arrow.useLargeVarTypes)
    has int64 offsets and the int32 view would read interleaved garbage
    — mis-decoding silently deep in NumPy. Fail loudly instead (ADVICE
    r9)."""
    if not (pa.types.is_binary(arr.type) or pa.types.is_string(arr.type)):
        raise TypeError(
            f"vectorized decode requires 32-bit-offset binary/string "
            f"columns, got {arr.type} — disable "
            f"spark.sql.execution.arrow.useLargeVarTypes")
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], np.int32)[
        arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    data = (np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None
            else np.empty(0, np.uint8))
    return data, offs


def _list_view(arr: pa.Array):
    """(np offsets, flat child array) of a ListArray (post-take: compact)."""
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    return offs, arr.values


def _read(buf: np.ndarray, starts: np.ndarray, kind: str):
    """Gather a little-endian numeric field at `starts` for every row."""
    if kind == "u128":
        return U128(_read(buf, starts, "u64"),
                    _read(buf, starts + 8, "u64"))
    nb = _NBYTES[kind]
    if starts.size == 0:
        return np.empty(0, np.dtype(_NPVIEW[kind]))
    m = buf[starts[:, None] + np.arange(nb)]
    return np.ascontiguousarray(m).view(_NPVIEW[kind]).ravel()


# max decimal(38,0) value split into u64 lanes (overflow pre-check)
_DEC38_MAX = 10 ** 38 - 1
_DEC38_HI = _DEC38_MAX >> 64
_DEC38_LO = _DEC38_MAX & ((1 << 64) - 1)


class U128(object):
    """A u128 column as two u64 NumPy lanes (+ optional null mask) —
    the VERDICT r9 item-5 fix: the previous object-dtype bignum arrays
    reintroduced per-row Python objects (and a `pa.array(tolist())`
    materialization) into the fast path. The lanes ride NumPy end to
    end and become an Arrow decimal128 by BUFFER assembly at the schema
    boundary: decimal128 stores 16-byte little-endian two's-complement
    values, which for the in-range region is exactly lo,hi
    concatenated. Values above 10^38-1 (schemas.py documented clip —
    none occur in practice) fall back to the Python-int path so the
    failure mode matches the per-row decoders bit for bit."""

    __slots__ = ("lo", "hi", "mask")

    def __init__(self, lo: np.ndarray, hi: np.ndarray, mask=None):
        self.lo = lo
        self.hi = hi
        self.mask = mask          # True = NULL, or None

    def __len__(self):
        return self.lo.size

    def take(self, sel: np.ndarray) -> "U128":
        return U128(self.lo[sel], self.hi[sel],
                    None if self.mask is None else self.mask[sel])

    def tolist(self) -> list:
        ints = [(int(h) << 64) | int(lo)
                for h, lo in zip(self.hi.tolist(), self.lo.tolist())]
        if self.mask is None:
            return ints
        return [None if m else v
                for v, m in zip(ints, self.mask.tolist())]

    def to_arrow(self, typ: pa.DataType) -> pa.Array:
        in_range = (self.hi < _DEC38_HI) | (
            (self.hi == _DEC38_HI) & (self.lo <= _DEC38_LO))
        if self.mask is not None:
            in_range |= self.mask
        if not (pa.types.is_decimal128(typ) and typ.precision == 38
                and typ.scale == 0 and bool(in_range.all())):
            return pa.array(self.tolist(), typ)      # cold: clip region
        lanes = np.empty((len(self), 2), "<u8")
        lanes[:, 0] = self.lo
        lanes[:, 1] = self.hi
        validity = (None if self.mask is None
                    else pa.array(~self.mask).buffers()[1])
        return pa.Array.from_buffers(
            typ, len(self), [validity, pa.py_buffer(lanes.tobytes())],
            null_count=(0 if self.mask is None
                        else int(self.mask.sum())))


def _np_col(arr: pa.Array, fill=0):
    return pc.coalesce(arr, pa.scalar(fill, arr.type)).to_numpy(
        zero_copy_only=False)


# ---------------------------------------------------------------------------
# Spec tables
# ---------------------------------------------------------------------------

class CpiSpec:
    __slots__ = ("kind", "size", "nums", "pks", "bools", "enums", "f8")

    def __init__(self, kind, size, nums=(), pks=(), bools=(), enums=(),
                 f8=None):
        self.kind = kind
        self.size = size          # minimum body length (fixed struct size)
        self.nums = nums          # (field, numkind, offset)
        self.pks = pks            # (field, offset) -> base58(32B)
        self.bools = bools        # (field, offset, emit) strict borsh bool
        self.enums = enums        # (field, offset, labels, max) -> str
        self.f8 = f8              # ("offset", required_value) or None


class InstSpec:
    __slots__ = ("etype", "disc_len", "min_data", "min_accounts", "nums",
                 "bools", "accounts", "consts", "remaining_from", "cpi",
                 "j2_fields", "opt_bools", "data_pks", "requires_cpi")

    def __init__(self, etype, min_data, min_accounts, nums=(), bools=(),
                 accounts=(), consts=None, remaining_from=None, cpi=None,
                 disc_len=8, j2_fields=(), opt_bools=(), data_pks=(),
                 requires_cpi=False):
        self.etype = etype
        self.disc_len = disc_len
        self.min_data = min_data          # after-discriminator bytes
        self.min_accounts = min_accounts
        self.nums = nums                  # (field, numkind, offset)
        self.bools = bools                # (field, offset): byte == 1
        self.accounts = accounts          # (field, mode, arg)
        self.consts = consts or {}
        self.remaining_from = remaining_from
        self.cpi = cpi
        self.j2_fields = j2_fields        # payload keys scan_swap_data reads
        # borsh Option<bool> with both bytes inside min_data
        # (common/utils.rs:60-72): tag==0 -> NULL, else next byte != 0
        self.opt_bools = opt_bools        # (field, tag_offset)
        # pubkey read from the DATA bytes, present when the row's
        # after-disc length >= min_len, else the default pubkey
        self.data_pks = data_pks          # (field, offset, min_len)
        self.requires_cpi = requires_cpi  # F9: drop rows w/o decoded CPI


def _acc(names, start=0):
    """Required account entries name->consecutive index."""
    return tuple((nm, "idx", start + i) for i, nm in enumerate(names))


# ---- CPI structs (offsets = sequential reads in decode.py) ----------------

_CPI_PUMPFUN_TRADE = CpiSpec(
    "pumpfun_trade", 250,  # pumpfun/events.rs:253-260
    nums=(("sol_amount", "u64", 32), ("token_amount", "u64", 40),
          ("timestamp", "i64", 81), ("virtual_sol_reserves", "u64", 89),
          ("virtual_token_reserves", "u64", 97),
          ("real_sol_reserves", "u64", 105),
          ("real_token_reserves", "u64", 113),
          ("fee_basis_points", "u64", 153), ("fee", "u64", 161),
          ("creator_fee_basis_points", "u64", 201),
          ("creator_fee", "u64", 209)),
    pks=(("mint", 0), ("user", 49), ("fee_recipient", 121),
         ("creator", 169)),
    bools=(("is_buy", 48, True), ("track_volume", 217, False)),
)

_PS_PKS = (("pool", 112), ("user", 144), ("user_base_token_account", 176),
           ("user_quote_token_account", 208), ("protocol_fee_recipient", 240),
           ("protocol_fee_recipient_token_account", 272),
           ("coin_creator", 304))
_PS_COMMON_NUMS = (("user_base_token_reserves", "u64", 24),
                   ("user_quote_token_reserves", "u64", 32),
                   ("pool_base_token_reserves", "u64", 40),
                   ("pool_quote_token_reserves", "u64", 48),
                   ("lp_fee_basis_points", "u64", 64), ("lp_fee", "u64", 72),
                   ("protocol_fee_basis_points", "u64", 80),
                   ("protocol_fee", "u64", 88),
                   ("coin_creator_fee_basis_points", "u64", 336),
                   ("coin_creator_fee", "u64", 344),
                   ("timestamp", "i64", 0))

_CPI_PUMPSWAP_BUY = CpiSpec(
    "pumpswap_buy", 385,  # pumpswap/events.rs:59-66
    nums=_PS_COMMON_NUMS + (
        ("base_amount_out", "u64", 8), ("max_quote_amount_in", "u64", 16),
        ("quote_amount_in", "u64", 56),
        ("quote_amount_in_with_lp_fee", "u64", 96),
        ("user_quote_amount_in", "u64", 104)),
    pks=_PS_PKS,
    bools=(("track_volume", 352, False),),
)

_CPI_PUMPSWAP_SELL = CpiSpec(
    "pumpswap_sell", 352,  # pumpswap/events.rs:114-121
    nums=_PS_COMMON_NUMS + (
        ("base_amount_in", "u64", 8), ("min_quote_amount_out", "u64", 16),
        ("quote_amount_out", "u64", 56),
        ("quote_amount_out_without_lp_fee", "u64", 96),
        ("user_quote_amount_out", "u64", 104)),
    pks=_PS_PKS,
)

_PS_DW_NUMS = (("timestamp", "i64", 0),
               ("user_base_token_reserves", "u64", 32),
               ("user_quote_token_reserves", "u64", 40),
               ("pool_base_token_reserves", "u64", 48),
               ("pool_quote_token_reserves", "u64", 56),
               ("lp_mint_supply", "u64", 80))
_PS_DW_PKS = (("pool", 88), ("user", 120), ("user_base_token_account", 152),
              ("user_quote_token_account", 184),
              ("user_pool_token_account", 216))

_CPI_PUMPSWAP_DEPOSIT = CpiSpec(
    "pumpswap_deposit", 248,  # pumpswap/events.rs:196-203
    nums=_PS_DW_NUMS + (("lp_token_amount_out", "u64", 8),
                        ("max_base_amount_in", "u64", 16),
                        ("max_quote_amount_in", "u64", 24),
                        ("base_amount_in", "u64", 64),
                        ("quote_amount_in", "u64", 72)),
    pks=_PS_DW_PKS,
)

_CPI_PUMPSWAP_WITHDRAW = CpiSpec(
    "pumpswap_withdraw", 248,  # pumpswap/events.rs:236-243
    nums=_PS_DW_NUMS + (("lp_token_amount_in", "u64", 8),
                        ("min_base_amount_out", "u64", 16),
                        ("min_quote_amount_out", "u64", 24),
                        ("base_amount_out", "u64", 64),
                        ("quote_amount_out", "u64", 72)),
    pks=_PS_DW_PKS,
)


def _cpi_bonk_trade(direction: int | None) -> CpiSpec:
    # bonk/events.rs:74-81; F8 (bonk/parser.rs:115-133) folds into the
    # validity mask: the trade_direction byte must equal the instruction
    # family's direction.
    return CpiSpec(
        "bonk_trade", 139,
        nums=(("total_base_sell", "u64", 32), ("virtual_base", "u64", 40),
              ("virtual_quote", "u64", 48), ("real_base_before", "u64", 56),
              ("real_quote_before", "u64", 64),
              ("real_base_after", "u64", 72),
              ("real_quote_after", "u64", 80), ("amount_in", "u64", 88),
              ("amount_out", "u64", 96), ("protocol_fee", "u64", 104),
              ("platform_fee", "u64", 112), ("creator_fee", "u64", 120),
              ("share_fee", "u64", 128)),
        pks=(("pool_state", 0),),
        bools=(("exact_in", 138, True),),
        enums=(("trade_direction", 136, ("Buy", "Sell"), 1),
               ("pool_status", 137, ("Fund", "Migrate", "Trade"), 2)),
        f8=(136, direction) if direction is not None else None,
    )


_MET_TD_LABELS = tuple(str(i) for i in range(256))  # decimal-string u8

_CPI_METEORA_SWAP = CpiSpec(
    "meteora_swap", 180,  # meteora_damm_v2/events.rs:403-409
    nums=(("collect_fee_mode", "u8", 33), ("amount_0", "u64", 35),
          ("amount_1", "u64", 43), ("swap_mode", "u8", 51),
          ("included_fee_input_amount", "u64", 52),
          ("excluded_fee_input_amount", "u64", 60),
          ("amount_left", "u64", 68), ("output_amount", "u64", 76),
          ("next_sqrt_price", "u128", 84), ("trading_fee", "u64", 100),
          ("partner_fee", "u64", 116), ("referral_fee", "u64", 124),
          ("included_transfer_fee_amount_in", "u64", 132),
          ("included_transfer_fee_amount_out", "u64", 140),
          ("excluded_transfer_fee_amount_out", "u64", 148),
          ("current_timestamp", "u64", 156),
          ("reserve_a_amount", "u64", 164),
          ("reserve_b_amount", "u64", 172)),
    pks=(("pool", 0),),
    bools=(("has_referral", 34, True),),
    enums=(("trade_direction", 32, _MET_TD_LABELS, 255),),
)

# ---- Instruction layouts ---------------------------------------------------

_J2_BONK = ("base_token_mint", "quote_token_mint", "user_base_token",
            "user_quote_token", "base_vault", "quote_vault")
_J2_CPMM = ("input_token_mint", "output_token_mint", "input_token_account",
            "output_token_account", "input_vault", "output_vault")
_J2_CLMM = ("input_token_account", "output_token_account", "input_vault",
            "output_vault")
_J2_AMMV4 = ("user_source_token_account", "user_destination_token_account",
             "pool_pc_token_account", "pool_coin_token_account")


def _pumpfun_trade_spec(etype, amount_b_name, is_buy, accounts):
    # pumpfun/parser.rs:239-312
    return InstSpec(
        etype, 16, len([a for a in accounts if a[1] == "idx"]),
        nums=(("amount", "u64", 0), (amount_b_name, "u64", 8)),
        accounts=accounts, consts={"is_buy": is_buy},
        cpi=_CPI_PUMPFUN_TRADE, j2_fields=("is_buy", "mint"))


_PUMPFUN_BUY = _pumpfun_trade_spec(
    "PumpFunBuy", "max_sol_cost", True,
    _acc(("global", "fee_recipient", "mint", "bonding_curve",
          "associated_bonding_curve", "associated_user", "user",
          "system_program", "token_program", "creator_vault",
          "event_authority", "program", "global_volume_accumulator",
          "user_volume_accumulator", "fee_config", "fee_program")))

_PUMPFUN_SELL = InstSpec(
    "PumpFunSell", 16, 14,  # pumpfun/parser.rs:277-312
    nums=(("amount", "u64", 0), ("min_sol_output", "u64", 8)),
    accounts=_acc(("global", "fee_recipient", "mint", "bonding_curve",
                   "associated_bonding_curve", "associated_user", "user",
                   "system_program", "creator_vault", "token_program",
                   "event_authority", "program", "fee_config",
                   "fee_program")),
    consts={"is_buy": False, "global_volume_accumulator": ZERO_PUBKEY,
            "user_volume_accumulator": ZERO_PUBKEY},
    cpi=_CPI_PUMPFUN_TRADE, j2_fields=("is_buy", "mint"))

_PUMPSWAP_ACCOUNTS = (
    ("pool", "idx", 0), ("user", "idx", 1), ("base_mint", "idx", 3),
    ("quote_mint", "idx", 4), ("user_base_token_account", "idx", 5),
    ("user_quote_token_account", "idx", 6),
    ("pool_base_token_account", "idx", 7),
    ("pool_quote_token_account", "idx", 8),
    ("protocol_fee_recipient", "idx", 9),
    ("protocol_fee_recipient_token_account", "idx", 10),
    ("base_token_program", "idx", 11), ("quote_token_program", "idx", 12),
    ("coin_creator_vault_ata", "opt_zero", 17),
    ("coin_creator_vault_authority", "opt_zero", 18))

_PUMPSWAP_BUY = InstSpec(
    "PumpSwapBuy", 16, 13,  # pumpswap/parser.rs:132-166
    nums=(("base_amount_out", "u64", 0), ("max_quote_amount_in", "u64", 8)),
    accounts=_PUMPSWAP_ACCOUNTS, cpi=_CPI_PUMPSWAP_BUY,
    j2_fields=("base_mint", "quote_mint"))

_PUMPSWAP_SELL = InstSpec(
    "PumpSwapSell", 16, 13,  # pumpswap/parser.rs:169-203
    nums=(("base_amount_in", "u64", 0), ("min_quote_amount_out", "u64", 8)),
    accounts=_PUMPSWAP_ACCOUNTS, cpi=_CPI_PUMPSWAP_SELL,
    j2_fields=("base_mint", "quote_mint"))

_PS_DW_ACCOUNTS = (
    ("pool", "idx", 0), ("user", "idx", 2), ("base_mint", "idx", 3),
    ("quote_mint", "idx", 4), ("user_base_token_account", "idx", 6),
    ("user_quote_token_account", "idx", 7),
    ("user_pool_token_account", "idx", 8),
    ("pool_base_token_account", "idx", 9),
    ("pool_quote_token_account", "idx", 10))

_CPI_PUMPFUN_MIGRATE = CpiSpec(
    "pumpfun_migrate", 160,  # pumpfun/events.rs:318-325
    nums=(("mint_amount", "u64", 64), ("sol_amount", "u64", 72),
          ("pool_migration_fee", "u64", 80), ("timestamp", "i64", 120)),
    pks=(("user", 0), ("mint", 32), ("bonding_curve", 88), ("pool", 128)),
)

_PUMPFUN_MIGRATE = InstSpec(
    "PumpFunMigrate", 0, 24,  # pumpfun/parser.rs:315-353
    accounts=_acc(("global", "withdraw_authority", "mint", "bonding_curve",
                   "associated_bonding_curve", "user", "system_program",
                   "token_program", "pump_amm", "pool", "pool_authority",
                   "pool_authority_mint_account",
                   "pool_authority_wsol_account", "amm_global_config",
                   "wsol_mint", "lp_mint", "user_pool_token_account",
                   "pool_base_token_account", "pool_quote_token_account",
                   "token_2022_program", "associated_token_program",
                   "pump_amm_event_authority", "event_authority",
                   "program")),
    cpi=_CPI_PUMPFUN_MIGRATE, requires_cpi=True)

_CPI_PUMPSWAP_CREATE_POOL = CpiSpec(
    "pumpswap_create_pool", 325,  # pumpswap/events.rs:156-163
    nums=(("timestamp", "i64", 0), ("index", "u16", 8),
          ("base_mint_decimals", "u8", 106),
          ("quote_mint_decimals", "u8", 107),
          ("base_amount_in", "u64", 108), ("quote_amount_in", "u64", 116),
          ("pool_base_amount", "u64", 124),
          ("pool_quote_amount", "u64", 132),
          ("minimum_liquidity", "u64", 140),
          ("initial_liquidity", "u64", 148),
          ("lp_token_amount_out", "u64", 156), ("pool_bump", "u8", 164)),
    pks=(("creator", 10), ("base_mint", 42), ("quote_mint", 74),
         ("pool", 165), ("lp_mint", 197),
         ("user_base_token_account", 229),
         ("user_quote_token_account", 261), ("coin_creator", 293)),
)

_PUMPSWAP_CREATE_POOL = InstSpec(
    "PumpSwapCreatePool", 18, 11,  # pumpswap/parser.rs:206-244
    nums=(("index", "u16", 0), ("base_amount_in", "u64", 2),
          ("quote_amount_in", "u64", 10)),
    accounts=(("pool", "idx", 0), ("creator", "idx", 2),
              ("base_mint", "idx", 3), ("quote_mint", "idx", 4),
              ("lp_mint", "idx", 5), ("user_base_token_account", "idx", 6),
              ("user_quote_token_account", "idx", 7),
              ("user_pool_token_account", "idx", 8),
              ("pool_base_token_account", "idx", 9),
              ("pool_quote_token_account", "idx", 10)),
    data_pks=(("coin_creator", 18, 50),),
    cpi=_CPI_PUMPSWAP_CREATE_POOL)

_PUMPSWAP_DEPOSIT = InstSpec(
    "PumpSwapDeposit", 24, 11,  # pumpswap/parser.rs:247-278
    nums=(("lp_token_amount_out", "u64", 0),
          ("max_base_amount_in", "u64", 8),
          ("max_quote_amount_in", "u64", 16)),
    accounts=_PS_DW_ACCOUNTS, cpi=_CPI_PUMPSWAP_DEPOSIT)

_PUMPSWAP_WITHDRAW = InstSpec(
    "PumpSwapWithdraw", 24, 11,  # pumpswap/parser.rs:281-312
    nums=(("lp_token_amount_in", "u64", 0),
          ("min_base_amount_out", "u64", 8),
          ("min_quote_amount_out", "u64", 16)),
    accounts=_PS_DW_ACCOUNTS, cpi=_CPI_PUMPSWAP_WITHDRAW)

_BONK_ACCOUNTS = tuple(
    (nm, "idx", i) for nm, i in (
        ("payer", 0), ("global_config", 2), ("platform_config", 3),
        ("pool_state", 4), ("user_base_token", 5), ("user_quote_token", 6),
        ("base_vault", 7), ("quote_vault", 8), ("base_token_mint", 9),
        ("quote_token_mint", 10), ("base_token_program", 11),
        ("quote_token_program", 12), ("system_program", 15),
        ("platform_associated_account", 16),
        ("creator_associated_account", 17)))


def _bonk_spec(etype, exact_in, direction):
    # bonk/parser.rs:136-294: the third u64 (share_fee_rate at data[16..24])
    # is read with `?` semantics, so the effective minimum is 24 bytes.
    a, b = (("amount_in", "minimum_amount_out") if exact_in
            else (("amount_out", "maximum_amount_in")))
    return InstSpec(
        etype, 24, 18,
        nums=((a, "u64", 0), (b, "u64", 8), ("share_fee_rate", "u64", 16)),
        accounts=_BONK_ACCOUNTS,
        consts={"trade_direction": "Buy" if direction == 0 else "Sell"},
        cpi=_cpi_bonk_trade(direction), j2_fields=_J2_BONK)


_BONK_SPECS = (_bonk_spec("BonkBuyExactIn", True, 0),
               _bonk_spec("BonkBuyExactOut", False, 0),
               _bonk_spec("BonkSellExactIn", True, 1),
               _bonk_spec("BonkSellExactOut", False, 1))

_CPMM_SWAP_ACCOUNTS = _acc((
    "payer", "authority", "amm_config", "pool_state", "input_token_account",
    "output_token_account", "input_vault", "output_vault",
    "input_token_program", "output_token_program", "input_token_mint",
    "output_token_mint", "observation_state"))


def _cpmm_swap_spec(etype, base_input):
    # raydium_cpmm/parser.rs:176-244
    a, b = (("amount_in", "minimum_amount_out") if base_input
            else (("max_amount_in", "amount_out")))
    return InstSpec(etype, 16, 13,
                    nums=((a, "u64", 0), (b, "u64", 8)),
                    accounts=_CPMM_SWAP_ACCOUNTS, j2_fields=_J2_CPMM)


_CPMM_DEPOSIT = InstSpec(
    "RaydiumCpmmDeposit", 24, 13,  # raydium_cpmm/parser.rs:144-173
    nums=(("lp_token_amount", "u64", 0), ("maximum_token0_amount", "u64", 8),
          ("maximum_token1_amount", "u64", 16)),
    accounts=_acc(("owner", "authority", "pool_state", "owner_lp_token",
                   "token0_account", "token1_account", "token0_vault",
                   "token1_vault", "token_program", "token_program2022",
                   "vault0_mint", "vault1_mint", "lp_mint")))

_CPMM_INITIALIZE = InstSpec(
    "RaydiumCpmmInitialize", 24, 20,  # raydium_cpmm/parser.rs:105-141
    nums=(("init_amount0", "u64", 0), ("init_amount1", "u64", 8),
          ("open_time", "u64", 16)),
    accounts=_acc(("creator", "amm_config", "authority", "pool_state",
                   "token0_mint", "token1_mint", "lp_mint", "creator_token0",
                   "creator_token1", "creator_lp_token", "token0_vault",
                   "token1_vault", "create_pool_fee", "observation_state",
                   "token_program", "token0_program", "token1_program",
                   "associated_token_program", "system_program", "rent")))

_CPMM_WITHDRAW = InstSpec(
    "RaydiumCpmmWithdraw", 24, 14,  # raydium_cpmm/parser.rs:72-102
    nums=(("lp_token_amount", "u64", 0), ("minimum_token0_amount", "u64", 8),
          ("minimum_token1_amount", "u64", 16)),
    accounts=_acc(("owner", "authority", "pool_state", "owner_lp_token",
                   "token0_account", "token1_account", "token0_vault",
                   "token1_vault", "token_program", "token_program2022",
                   "vault0_mint", "vault1_mint", "lp_mint", "memo_program")))

_CLMM_SWAP = InstSpec(
    "RaydiumClmmSwap", 33, 10,  # raydium_clmm/parser.rs:307-341
    nums=(("amount", "u64", 0), ("other_amount_threshold", "u64", 8),
          ("sqrt_price_limit_x64", "u128", 16)),
    bools=(("is_base_input", 32),),
    accounts=_acc(("payer", "amm_config", "pool_state",
                   "input_token_account", "output_token_account",
                   "input_vault", "output_vault", "observation_state",
                   "token_program", "tick_array")),
    remaining_from=10, j2_fields=_J2_CLMM)

_CLMM_SWAP_V2 = InstSpec(
    "RaydiumClmmSwapV2", 33, 13,  # raydium_clmm/parser.rs:343-380
    nums=(("amount", "u64", 0), ("other_amount_threshold", "u64", 8),
          ("sqrt_price_limit_x64", "u128", 16)),
    bools=(("is_base_input", 32),),
    accounts=_acc(("payer", "amm_config", "pool_state",
                   "input_token_account", "output_token_account",
                   "input_vault", "output_vault", "observation_state",
                   "token_program", "token_program2022", "memo_program",
                   "input_vault_mint", "output_vault_mint")),
    remaining_from=13,
    j2_fields=_J2_CLMM + ("input_vault_mint", "output_vault_mint"))

_CLMM_CLOSE_POSITION = InstSpec(
    "RaydiumClmmClosePosition", 0, 6,  # raydium_clmm/parser.rs:285-304
    accounts=_acc(("nft_owner", "position_nft_mint", "position_nft_account",
                   "personal_position", "system_program", "token_program")))

_CLMM_CREATE_POOL = InstSpec(
    "RaydiumClmmCreatePool", 24, 13,  # raydium_clmm/parser.rs:218-246
    nums=(("sqrt_price_x64", "u128", 0), ("open_time", "u64", 16)),
    accounts=_acc(("pool_creator", "amm_config", "pool_state", "token_mint0",
                   "token_mint1", "token_vault0", "token_vault1",
                   "observation_state", "tick_array_bitmap",
                   "token_program0", "token_program1", "system_program",
                   "rent")))

_CLMM_INCREASE_LIQUIDITY_V2 = InstSpec(
    "RaydiumClmmIncreaseLiquidityV2", 34, 15,  # parser.rs:183-215
    nums=(("liquidity", "u128", 0), ("amount0_max", "u64", 16),
          ("amount1_max", "u64", 24)),
    opt_bools=(("base_flag", 32),),
    accounts=_acc(("nft_owner", "nft_account", "pool_state",
                   "protocol_position", "personal_position",
                   "tick_array_lower", "tick_array_upper",
                   "token_account0", "token_account1", "token_vault0",
                   "token_vault1", "token_program", "token_program2022",
                   "vault0_mint", "vault1_mint")))

_CLMM_DECREASE_LIQUIDITY_V2 = InstSpec(
    "RaydiumClmmDecreaseLiquidityV2", 32, 16,  # parser.rs:249-282
    nums=(("liquidity", "u128", 0), ("amount0_min", "u64", 16),
          ("amount1_min", "u64", 24)),
    accounts=_acc(("nft_owner", "nft_account", "personal_position",
                   "pool_state", "protocol_position", "token_vault0",
                   "token_vault1", "tick_array_lower", "tick_array_upper",
                   "recipient_token_account0", "recipient_token_account1",
                   "token_program", "token_program2022", "memo_program",
                   "vault0_mint", "vault1_mint")),
    remaining_from=16)

_CLMM_OPEN_HEAD = (("tick_lower_index", "i32", 0),
                   ("tick_upper_index", "i32", 4),
                   ("tick_array_lower_start_index", "i32", 8),
                   ("tick_array_upper_start_index", "i32", 12),
                   ("liquidity", "u128", 16), ("amount0_max", "u64", 32),
                   ("amount1_max", "u64", 40))

_CLMM_OPEN_POSITION_T22 = InstSpec(
    "RaydiumClmmOpenPositionWithToken22Nft", 51, 20,  # parser.rs:88-180
    nums=_CLMM_OPEN_HEAD, bools=(("with_metadata", 48),),
    opt_bools=(("base_flag", 49),),
    accounts=_acc(("payer", "position_nft_owner", "position_nft_mint",
                   "position_nft_account", "pool_state",
                   "protocol_position", "tick_array_lower",
                   "tick_array_upper", "personal_position",
                   "token_account0", "token_account1", "token_vault0",
                   "token_vault1", "rent", "system_program",
                   "token_program", "associated_token_program",
                   "token_program2022", "vault0_mint", "vault1_mint")))

_CLMM_OPEN_POSITION_V2 = InstSpec(
    "RaydiumClmmOpenPositionV2", 51, 22,
    nums=_CLMM_OPEN_HEAD, bools=(("with_metadata", 48),),
    opt_bools=(("base_flag", 49),),
    accounts=_acc(("payer", "position_nft_owner", "position_nft_mint",
                   "position_nft_account", "metadata_account", "pool_state",
                   "protocol_position", "tick_array_lower",
                   "tick_array_upper", "personal_position",
                   "token_account0", "token_account1", "token_vault0",
                   "token_vault1", "rent", "system_program",
                   "token_program", "associated_token_program",
                   "metadata_program", "token_program2022", "vault0_mint",
                   "vault1_mint")),
    remaining_from=22)

_BONK_MIGRATE_TO_AMM = InstSpec(
    "BonkMigrateToAmm", 17, 32,  # bonk/parser.rs:519-573
    nums=(("base_lot_size", "u64", 0), ("quote_lot_size", "u64", 8),
          ("market_vault_signer_nonce", "u8", 16)),
    accounts=_acc(("payer", "base_mint", "quote_mint", "openbook_program",
                   "market", "request_queue", "event_queue", "bids",
                   "asks", "market_vault_signer", "market_base_vault",
                   "market_quote_vault", "amm_program", "amm_pool",
                   "amm_authority", "amm_open_orders", "amm_lp_mint",
                   "amm_base_vault", "amm_quote_vault",
                   "amm_target_orders", "amm_config",
                   "amm_create_fee_destination", "authority", "pool_state",
                   "global_config", "base_vault", "quote_vault",
                   "pool_lp_token", "spl_token_program",
                   "associated_token_program", "system_program",
                   "rent_program")))
# NB: BonkMigrateToAmm's merge spec references the unreachable
# "bonk_trade_unused" kind (registry.py) — cpi=None here, so any row
# that somehow carries a candidate defers to the per-row scan.

_BONK_MIGRATE_TO_CPSWAP = InstSpec(
    "BonkMigrateToCpswap", 0, 28,  # bonk/parser.rs:576-616
    accounts=_acc(("payer", "base_mint", "quote_mint", "platform_config",
                   "cpswap_program", "cpswap_pool", "cpswap_authority",
                   "cpswap_lp_mint", "cpswap_base_vault",
                   "cpswap_quote_vault", "cpswap_config",
                   "cpswap_create_pool_fee", "cpswap_observation",
                   "lock_program", "lock_authority", "lock_lp_vault",
                   "authority", "pool_state", "global_config",
                   "base_vault", "quote_vault", "pool_lp_token",
                   "base_token_program", "quote_token_program",
                   "associated_token_program", "system_program",
                   "rent_program", "metadata_program")),
    remaining_from=28)

# raydium_amm_v4/parser.rs:232-327: the 17-account form has no
# amm_target_orders; names at physical index >= 4 shift down by one and
# amm_target_orders itself resolves to the default pubkey. Mode "ammv4"
# encodes that conditional index per field.
_AMMV4_SWAP_NAMES = (
    "token_program", "amm", "amm_authority", "amm_open_orders",
    "amm_target_orders", "pool_coin_token_account", "pool_pc_token_account",
    "serum_program", "serum_market", "serum_bids", "serum_asks",
    "serum_event_queue", "serum_coin_vault_account",
    "serum_pc_vault_account", "serum_vault_signer",
    "user_source_token_account", "user_destination_token_account",
    "user_source_owner")


def _ammv4_swap_spec(etype, base_in):
    a, b = (("amount_in", "minimum_amount_out") if base_in
            else (("max_amount_in", "amount_out")))
    return InstSpec(
        etype, 16, 17, disc_len=1,
        nums=((a, "u64", 0), (b, "u64", 8)),
        accounts=tuple((nm, "ammv4", i)
                       for i, nm in enumerate(_AMMV4_SWAP_NAMES)),
        j2_fields=_J2_AMMV4)


_AMMV4_DEPOSIT = InstSpec(
    "RaydiumAmmV4Deposit", 24, 14, disc_len=1,  # parser.rs:194-229
    nums=(("max_coin_amount", "u64", 0), ("max_pc_amount", "u64", 8),
          ("base_side", "u64", 16)),
    accounts=_acc(("token_program", "amm", "amm_authority",
                   "amm_open_orders", "amm_target_orders", "lp_mint_address",
                   "pool_coin_token_account", "pool_pc_token_account",
                   "serum_market", "user_coin_token_account",
                   "user_pc_token_account", "user_lp_token_account",
                   "user_owner", "serum_event_queue")))

_AMMV4_INITIALIZE2 = InstSpec(
    "RaydiumAmmV4Initialize2", 25, 21, disc_len=1,  # parser.rs:147-191
    nums=(("nonce", "u8", 0), ("open_time", "u64", 1),
          ("init_pc_amount", "u64", 9), ("init_coin_amount", "u64", 17)),
    accounts=_acc(("token_program", "spl_associated_token_account",
                   "system_program", "rent", "amm", "amm_authority",
                   "amm_open_orders", "lp_mint", "coin_mint", "pc_mint",
                   "pool_coin_token_account", "pool_pc_token_account",
                   "pool_withdraw_queue", "amm_target_orders",
                   "pool_temp_lp", "serum_program", "serum_market",
                   "user_wallet", "user_token_coin", "user_token_pc",
                   "user_lp_token_account")))

_AMMV4_WITHDRAW = InstSpec(
    "RaydiumAmmV4Withdraw", 8, 22, disc_len=1,  # parser.rs:105-144
    nums=(("amount", "u64", 0),),
    accounts=_acc(("token_program", "amm", "amm_authority",
                   "amm_open_orders", "amm_target_orders", "lp_mint_address",
                   "pool_coin_token_account", "pool_pc_token_account",
                   "pool_withdraw_queue", "pool_temp_lp_token_account",
                   "serum_program", "serum_market",
                   "serum_coin_vault_account", "serum_pc_vault_account",
                   "serum_vault_signer", "user_lp_token_account",
                   "user_coin_token_account", "user_pc_token_account",
                   "user_owner", "serum_event_queue", "serum_bids",
                   "serum_asks")))

_AMMV4_WITHDRAW_PNL = InstSpec(
    "RaydiumAmmV4WithdrawPnl", 0, 17, disc_len=1,  # parser.rs:71-102
    accounts=_acc(("token_program", "amm", "amm_config", "amm_authority",
                   "amm_open_orders", "pool_coin_token_account",
                   "pool_pc_token_account", "coin_pnl_token_account",
                   "pc_pnl_token_account", "pnl_owner_account",
                   "amm_target_orders", "serum_program", "serum_market",
                   "serum_event_queue", "serum_coin_vault_account",
                   "serum_pc_vault_account", "serum_vault_signer")))

_METEORA_SWAP = InstSpec(
    "MeteoraDammV2Swap", 16, 14,  # meteora_damm_v2/parser.rs:60-95
    nums=(("amount_0", "u64", 0), ("amount_1", "u64", 8)),
    accounts=_acc(("pool_authority", "pool", "input_token_account",
                   "output_token_account", "token_a_vault", "token_b_vault",
                   "token_a_mint", "token_b_mint", "payer",
                   "token_a_program", "token_b_program",
                   "referral_token_account", "event_authority", "program")),
    cpi=_CPI_METEORA_SWAP)

# meteora_damm_v2/parser.rs:98-144: with >= 15 accounts a referral token
# account sits at index 11 and event_authority/program/sysvar shift up one.
# Mode "met2" = (index_with_referral, index_without); "met2_opt" = index 11
# when the referral exists, else NULL (the reference stores None).
_METEORA_SWAP2 = InstSpec(
    "MeteoraDammV2Swap2", 17, 14,
    nums=(("amount_0", "u64", 0), ("amount_1", "u64", 8),
          ("swap_mode", "u8", 16)),
    accounts=(("pool_authority", "idx", 0), ("pool", "idx", 1),
              ("input_token_account", "idx", 2),
              ("output_token_account", "idx", 3),
              ("token_a_vault", "idx", 4), ("token_b_vault", "idx", 5),
              ("token_a_mint", "idx", 6), ("token_b_mint", "idx", 7),
              ("payer", "idx", 8), ("token_a_program", "idx", 9),
              ("token_b_program", "idx", 10),
              ("referral_token_account", "met2_opt", 11),
              ("event_authority", "met2", (12, 11)),
              ("program", "met2", (13, 12)),
              ("sysvar", "met2", (14, 13))),
    consts={}, cpi=_CPI_METEORA_SWAP)
# has_referral is data-dependent (len(accounts) >= 15): handled as a
# derived column in the engine, not a const.

SPECS: dict[str, InstSpec] = {
    s.etype: s for s in (
        _PUMPFUN_BUY, _PUMPFUN_SELL, _PUMPFUN_MIGRATE,
        _PUMPSWAP_BUY, _PUMPSWAP_SELL, _PUMPSWAP_CREATE_POOL,
        _PUMPSWAP_DEPOSIT, _PUMPSWAP_WITHDRAW, *_BONK_SPECS,
        _BONK_MIGRATE_TO_AMM, _BONK_MIGRATE_TO_CPSWAP,
        _cpmm_swap_spec("RaydiumCpmmSwapBaseInput", True),
        _cpmm_swap_spec("RaydiumCpmmSwapBaseOutput", False),
        _CPMM_DEPOSIT, _CPMM_INITIALIZE, _CPMM_WITHDRAW,
        _CLMM_SWAP, _CLMM_SWAP_V2, _CLMM_CLOSE_POSITION, _CLMM_CREATE_POOL,
        _CLMM_INCREASE_LIQUIDITY_V2, _CLMM_DECREASE_LIQUIDITY_V2,
        _CLMM_OPEN_POSITION_T22, _CLMM_OPEN_POSITION_V2,
        _ammv4_swap_spec("RaydiumAmmV4SwapBaseIn", True),
        _ammv4_swap_spec("RaydiumAmmV4SwapBaseOut", False),
        _AMMV4_DEPOSIT, _AMMV4_INITIALIZE2, _AMMV4_WITHDRAW,
        _AMMV4_WITHDRAW_PNL, _METEORA_SWAP, _METEORA_SWAP2,
    )
}

_FAST_TYPES = tuple(SPECS)
_FAST_TYPE_ARR = pa.array(_FAST_TYPES, pa.string())


def _check_specs(specs: dict[str, InstSpec] | None = None,
                 merge_specs: dict | None = None) -> None:
    """Drift gate between a spec table and the merge-spec registry: a
    spec that declares a CPI must agree with the merge spec's kind and
    emit every merge-listed field. Runs at import time for the builtin
    table and at registration time for plug-in vector specs
    (plugins.register_protocol)."""
    specs = SPECS if specs is None else specs
    merge_specs = MERGE_SPECS if merge_specs is None else merge_specs
    for etype, spec in specs.items():
        assert spec.etype == etype, etype
        if spec.cpi is None:
            continue
        kind, fields = merge_specs[etype]
        assert kind == spec.cpi.kind, etype
        emitted = ({f for f, _, _ in spec.cpi.nums}
                   | {f for f, _ in spec.cpi.pks}
                   | {f for f, _, emit in spec.cpi.bools if emit}
                   | {f for f, _, _, _ in spec.cpi.enums})
        missing = set(fields) - emitted
        assert not missing, (etype, missing)


def _check_builtin_specs():
    _check_specs()
    for bt in BONK_BUY_TYPES:
        assert SPECS[bt].cpi.f8 == (136, 0), bt
    for st in BONK_SELL_TYPES:
        assert SPECS[st].cpi.f8 == (136, 1), st


_check_builtin_specs()


def register_specs(new: dict[str, InstSpec], merge_specs: dict) -> None:
    """Add plug-in vector specs to the fast path (driver-side module
    state; plan-build captures a snapshot into the decode closure so
    executors see them — plans/pipeline._decode_tables). Callers gate
    with :func:`_check_specs` BEFORE mutating; this refreshes the
    dispatch arrays."""
    global _FAST_TYPES, _FAST_TYPE_ARR
    _check_specs(new, merge_specs)
    SPECS.update(new)
    _FAST_TYPES = tuple(SPECS)
    _FAST_TYPE_ARR = pa.array(_FAST_TYPES, pa.string())


def unregister_specs(etypes) -> None:
    """Remove plug-in vector specs (plugins.register_protocol's
    unregister callable)."""
    global _FAST_TYPES, _FAST_TYPE_ARR
    for etype in etypes:
        SPECS.pop(etype, None)
    _FAST_TYPES = tuple(SPECS)
    _FAST_TYPE_ARR = pa.array(_FAST_TYPES, pa.string())


# ---------------------------------------------------------------------------
# Engine
# ---------------------------------------------------------------------------

class Group:
    """One homogeneous slice of decoded output rows.

    src: ascending input-row indices (np int64); etypes: event_type value
    per row (str constant or list); cols: field -> tagged column value.
    Tag forms understood by `to_arrow`: pa.Array, np.ndarray,
    ("masked", values, nullmask), ("pylist", list), ("const", value),
    ("objints", object-ndarray).
    """

    __slots__ = ("src", "etypes", "cols")

    def __init__(self, src, etypes, cols):
        self.src = src
        self.etypes = etypes
        self.cols = cols

    def __len__(self):
        return len(self.src)

    def etype_array(self) -> pa.Array:
        if isinstance(self.etypes, str):
            return pa.array([self.etypes] * len(self.src), pa.string())
        return pa.array(self.etypes, pa.string())

    def to_arrow(self, name: str, typ: pa.DataType) -> pa.Array:
        v = self.cols.get(name)
        n = len(self.src)
        if v is None:
            return pa.nulls(n, typ)
        if isinstance(v, U128):
            return v.to_arrow(typ)
        if isinstance(v, pa.Array):
            return v.cast(typ) if v.type != typ else v
        if isinstance(v, np.ndarray):
            if v.dtype == object:
                return pa.array(v.tolist(), typ)
            return pa.array(v).cast(typ)
        tag = v[0]
        if tag == "masked":
            _, vals, mask = v
            if vals.dtype == object:
                lst = [None if m else x
                       for x, m in zip(vals.tolist(), mask.tolist())]
                return pa.array(lst, typ)
            return pa.array(vals, mask=mask).cast(typ)
        if tag == "pylist":
            return pa.array(v[1], typ)
        if tag == "const":
            return pa.array([v[1]] * n, typ)
        raise AssertionError(tag)


def _account_index(mode, arg, lens):
    """(flat offset delta per row, null mask, fill_zero)."""
    if mode == "idx":
        return np.full(lens.shape, arg, np.int64), None, False
    if mode == "opt_zero":
        short = lens <= arg
        return np.full(lens.shape, arg, np.int64), short, True
    if mode == "ammv4":
        if arg < 4:
            return np.full(lens.shape, arg, np.int64), None, False
        long_form = lens >= 18
        if arg == 4:
            return (np.full(lens.shape, 4, np.int64), ~long_form, True)
        return (np.where(long_form, arg, arg - 1).astype(np.int64),
                None, False)
    if mode == "met2":
        with_ref, without = arg
        return (np.where(lens >= 15, with_ref, without).astype(np.int64),
                None, False)
    if mode == "met2_opt":
        return (np.full(lens.shape, arg, np.int64), lens < 15, False)
    raise AssertionError(mode)


def _take_accounts(avals, aoffs, delta, null_mask, fill_zero):
    idx = aoffs[:-1] + delta
    if null_mask is not None:
        idx = np.where(null_mask, 0, idx)
        arr = avals.take(pa.array(idx, pa.int64(), mask=null_mask))
        if fill_zero:
            arr = pc.coalesce(arr, pa.scalar(ZERO_PUBKEY, pa.string()))
        return arr
    return avals.take(pa.array(idx, pa.int64()))


def _decode_cpi(spec: CpiSpec, body: pa.Array, sel_positions: np.ndarray,
                group_len: int):
    """Decode the single JVM-matched CPI candidate for `sel_positions`
    (group-local row positions, one body per entry). Returns
    (ok_mask over group, field -> ("masked", vals, nullmask)-style cols
    valid exactly where ok_mask)."""
    bbuf, boffs = _bin_view(body)
    blen = np.diff(boffs)
    ok_local = blen >= spec.size
    starts_all = boffs[:-1]
    if not ok_local.any():
        return np.zeros(group_len, bool), {}
    # strict borsh bools / enum range checks participate in validity
    safe = np.where(ok_local, starts_all, 0)
    for _, off, _emit in spec.bools:
        ok_local &= np.where(ok_local, bbuf[safe + off] <= 1, False)
    for _, off, _labels, mx in spec.enums:
        ok_local &= np.where(ok_local, bbuf[safe + off] <= mx, False)
    if spec.f8 is not None:
        off, want = spec.f8
        ok_local &= np.where(ok_local, bbuf[safe + off] == want, False)

    sel = np.nonzero(ok_local)[0]
    gpos = sel_positions[sel]           # group rows with a decoded CPI
    ok_mask = np.zeros(group_len, bool)
    ok_mask[gpos] = True
    starts = starts_all[sel]

    cols: dict[str, tuple] = {}
    nullmask = ~ok_mask

    def _scatter_np(vals, dtype):
        full = np.zeros(group_len, dtype)
        full[gpos] = vals
        return "masked", full, nullmask

    for name, kind, off in spec.nums:
        vals = _read(bbuf, starts + off, kind)
        if isinstance(vals, U128):
            lo = np.zeros(group_len, "<u8")
            hi = np.zeros(group_len, "<u8")
            lo[gpos] = vals.lo
            hi[gpos] = vals.hi
            cols[name] = U128(lo, hi, nullmask)
        else:
            cols[name] = _scatter_np(vals, vals.dtype)
    for name, off in spec.pks:
        lst = [None] * group_len
        for p, s in zip(gpos.tolist(), (starts + off).tolist()):
            lst[p] = b58encode(bbuf[s:s + 32].tobytes())
        cols[name] = ("pylist", lst)
    for name, off, emit in spec.bools:
        if not emit:
            continue
        cols[name] = _scatter_np(bbuf[starts + off] == 1, bool)
    for name, off, labels, _mx in spec.enums:
        vals = bbuf[starts + off]
        lst = [None] * group_len
        for p, v in zip(gpos.tolist(), vals.tolist()):
            lst[p] = labels[v]
        cols[name] = ("pylist", lst)
    return ok_mask, cols


def _merge_cpi(g_cols: dict, ok_mask: np.ndarray, cpi_cols: dict,
               merge_fields) -> None:
    """J1 merge (merger_event.rs): overwrite merge-listed instruction
    fields with the CPI value on rows where the CPI decoded."""
    if not ok_mask.any():
        return
    cond = pa.array(ok_mask)
    nullmask = ~ok_mask
    for name in merge_fields:
        cpi_v = cpi_cols[name]
        inst_v = g_cols.get(name)
        if inst_v is None:
            g_cols[name] = cpi_v
            continue
        if isinstance(cpi_v, U128):
            if isinstance(inst_v, U128):
                im = inst_v.mask
                g_cols[name] = U128(
                    np.where(ok_mask, cpi_v.lo, inst_v.lo),
                    np.where(ok_mask, cpi_v.hi, inst_v.hi),
                    None if im is None else np.where(ok_mask, False, im))
            else:
                inst_list = _to_pylist(inst_v, len(ok_mask))
                g_cols[name] = ("pylist",
                                [v if m else i for v, i, m in
                                 zip(cpi_v.tolist(), inst_list,
                                     ok_mask.tolist())])
            continue
        tag = cpi_v[0] if isinstance(cpi_v, tuple) else None
        if tag == "masked":
            _, vals, _ = cpi_v
            if isinstance(inst_v, np.ndarray) and vals.dtype != object \
                    and inst_v.dtype != object:
                g_cols[name] = np.where(
                    ok_mask, vals.astype(inst_v.dtype, copy=False), inst_v)
            else:
                inst_list = _to_pylist(inst_v, len(ok_mask))
                merged = [v if m else i for v, i, m in
                          zip(vals.tolist(), inst_list, ok_mask.tolist())]
                g_cols[name] = ("pylist", merged)
        elif tag == "pylist":
            lst = cpi_v[1]
            if isinstance(inst_v, pa.Array):
                g_cols[name] = pc.if_else(
                    cond, pa.array(lst, inst_v.type), inst_v)
            else:
                inst_list = _to_pylist(inst_v, len(ok_mask))
                g_cols[name] = ("pylist",
                                [v if m else i for v, i, m in
                                 zip(lst, inst_list, ok_mask.tolist())])
        else:
            raise AssertionError(tag)
    # fields the CPI decodes but the merge list omits stay untouched
    # (e.g. meteora protocol_fee, merger_event.rs:241-264)
    del nullmask


def _to_pylist(v, n):
    if isinstance(v, U128):
        return v.tolist()
    if isinstance(v, pa.Array):
        return v.to_pylist()
    if isinstance(v, np.ndarray):
        return v.tolist()
    tag = v[0]
    if tag == "pylist":
        return v[1]
    if tag == "const":
        return [v[1]] * n
    if tag == "masked":
        _, vals, mask = v
        return [None if m else x for x, m in zip(vals.tolist(),
                                                 mask.tolist())]
    raise AssertionError(tag)


def _col_values_at(g_cols: dict, name: str, positions: np.ndarray, n: int):
    """Python values of one field at group-local positions (J2 only)."""
    v = g_cols.get(name)
    if v is None:
        return [None] * len(positions)
    if isinstance(v, U128):
        return v.take(positions).tolist()
    if isinstance(v, pa.Array):
        return v.take(pa.array(positions, pa.int64())).to_pylist()
    if isinstance(v, np.ndarray):
        return v[positions].tolist()
    tag = v[0]
    if tag == "const":
        return [v[1]] * len(positions)
    if tag == "pylist":
        lst = v[1]
        return [lst[p] for p in positions.tolist()]
    if tag == "masked":
        _, vals, mask = v
        return [None if mask[p] else vals[p] for p in positions.tolist()]
    raise AssertionError(tag)


def _filter_group(rows: np.ndarray, g: dict, keep: np.ndarray):
    """Row-filter a group's tagged columns (F9 post-CPI drop)."""
    sel = np.nonzero(keep)[0]
    sel_pa = pa.array(sel, pa.int64())
    out: dict = {}
    for name, v in g.items():
        if isinstance(v, pa.Array):
            out[name] = v.take(sel_pa)
        elif isinstance(v, U128):
            out[name] = v.take(sel)
        elif isinstance(v, np.ndarray):
            out[name] = v[sel]
        elif v[0] == "masked":
            out[name] = ("masked", v[1][sel], v[2][sel])
        elif v[0] == "pylist":
            lst = v[1]
            out[name] = ("pylist", [lst[i] for i in sel.tolist()])
        else:                                   # const
            out[name] = v
    return rows[sel], out


def decode_batch_vectorized(batch: pa.RecordBatch,
                            specs: dict[str, InstSpec] | None = None,
                            merge_specs: dict | None = None):
    """Vector-decode every spec-covered row of a decode_input batch.

    Returns (groups, slow_rows): `groups` is a list of Group (including
    the ComputeBudget group), `slow_rows` the np int64 indices the
    caller must run through the per-row decoder (unmatched event types
    and rows with >= 2 CPI candidates — J1 "first candidate that
    decodes" needs the sequential scan there).

    ``specs``/``merge_specs`` default to the module tables; the decode
    stage passes its driver-captured snapshots so plug-in vector specs
    (plugins.register_protocol(vector_specs=...)) take the fast path on
    executors, which import this module without the registrations.
    """
    if specs is None:
        specs = SPECS
    if merge_specs is None:
        merge_specs = MERGE_SPECS
    fast_types = tuple(specs)
    fast_type_arr = (_FAST_TYPE_ARR if fast_types == _FAST_TYPES
                     else pa.array(fast_types, pa.string()))
    names = batch.schema.names
    col = {nm: batch.column(i) for i, nm in enumerate(names)}
    n = batch.num_rows
    if n == 0:
        return [], np.empty(0, np.int64)

    dlen = _np_col(pc.binary_length(col["data"])).astype(np.int64)
    alen = _np_col(pc.list_value_length(col["resolved_accounts"])
                   ).astype(np.int64)
    ncpi = _np_col(pc.list_value_length(col["cpi_candidates"])
                   ).astype(np.int64)
    has_ig = _np_col(col["has_inner_group"], fill=False).astype(bool)
    etype_idx = _np_col(pc.index_in(col["event_type"],
                                    value_set=fast_type_arr),
                        fill=-1).astype(np.int64)
    is_common = _np_col(pc.equal(col["protocol"], "Common"),
                        fill=False).astype(bool)
    # protocol dispatch precedes event_type in the per-row path: a
    # "Common" row decodes as ComputeBudget regardless of event_type
    etype_idx[is_common] = -1
    has_etype = pc.is_valid(col["event_type"]).to_numpy(
        zero_copy_only=False)

    groups: list[Group] = []
    slow_parts: list[np.ndarray] = []

    # --- D4 ComputeBudget (core/common_event_parser.rs:47-82) ----------
    crow = np.nonzero(is_common & (dlen >= 1))[0]
    if crow.size:
        dsub = col["data"].take(pa.array(crow, pa.int64()))
        buf, offs = _bin_view(dsub)
        ln = np.diff(offs)
        b0 = buf[offs[:-1]]
        m2 = (b0 == 2) & (ln >= 5)
        m3 = (b0 == 3) & (ln >= 9)
        keep = m2 | m3
        if keep.any():
            sel = np.nonzero(keep)[0]
            starts = offs[:-1][sel] + 1
            is_limit = m2[sel]
            units = np.zeros(sel.size, np.int64)
            units[is_limit] = _read(buf, starts[is_limit], "u32")
            micro = np.zeros(sel.size, np.uint64)
            micro[~is_limit] = _read(buf, starts[~is_limit], "u64")
            groups.append(Group(
                crow[sel],
                np.where(is_limit, "SetComputeUnitLimit",
                         "SetComputeUnitPrice").tolist(),
                {"units": ("masked", units, ~is_limit),
                 "micro_lamports": ("masked", micro, is_limit)}))

    # --- fast fixed-layout event types ---------------------------------
    for t, etype in enumerate(fast_types):
        spec = specs[etype]
        trow = np.nonzero(etype_idx == t)[0]
        if trow.size == 0:
            continue
        # max(dlen - disc, 0): the per-row path slices data[disc_len:],
        # which clamps — a min_data-0 spec accepts data shorter than the
        # discriminator itself (the JVM F7 guard normally excludes such
        # rows, but corrupt batches must behave per-row-identically)
        valid = ((np.maximum(dlen[trow] - spec.disc_len, 0)
                  >= spec.min_data)
                 & (alen[trow] >= spec.min_accounts))
        if spec.requires_cpi:
            # F9: no candidates at all -> no CPI -> dropped outright
            valid &= ncpi[trow] >= 1
        defer = valid & (ncpi[trow] >= (2 if spec.cpi is not None else 1))
        if defer.any():
            slow_parts.append(trow[defer])
        rows = trow[valid & ~defer]
        if rows.size == 0:
            continue
        idx_pa = pa.array(rows, pa.int64())
        g: dict = {}

        dsub = col["data"].take(idx_pa)
        buf, offs = _bin_view(dsub)
        starts = offs[:-1] + spec.disc_len
        for name, kind, off in spec.nums:
            g[name] = _read(buf, starts + off, kind)
        for name, off in spec.bools:
            g[name] = buf[starts + off] == 1
        for name, off in spec.opt_bools:
            tag = buf[starts + off]
            g[name] = ("masked", buf[starts + off + 1] != 0, tag == 0)
        if spec.data_pks:
            row_dlen = np.diff(offs) - spec.disc_len
            for name, off, need in spec.data_pks:
                present = row_dlen >= need
                vals = [b58encode(buf[s + off:s + off + 32].tobytes())
                        if p else ZERO_PUBKEY
                        for s, p in zip(starts.tolist(),
                                        present.tolist())]
                g[name] = ("pylist", vals)

        asub = col["resolved_accounts"].take(idx_pa)
        aoffs, avals = _list_view(asub)
        lens = np.diff(aoffs)
        for name, mode, arg in spec.accounts:
            delta, null_mask, fill_zero = _account_index(mode, arg, lens)
            g[name] = _take_accounts(avals, aoffs, delta, null_mask,
                                     fill_zero)
        if spec.remaining_from is not None:
            g["remaining_accounts"] = pc.list_slice(asub,
                                                    spec.remaining_from)
        for name, v in spec.consts.items():
            g[name] = ("const", v)
        if etype == "MeteoraDammV2Swap2":
            g["has_referral"] = lens >= 15

        # J2 swap look-ahead runs on the PRE-merge payload
        # (event_parser.rs:395-433) — do it before the CPI merge below.
        jloc = np.nonzero(has_ig[rows])[0]
        swap_cols = None
        if jloc.size:
            tsub = col["transfer_candidates"].take(
                pa.array(rows[jloc], pa.int64())).to_pylist()
            field_vals = {k: _col_values_at(g, k, jloc, rows.size)
                          for k in spec.j2_fields}
            swap_cols = {k: [None] * rows.size for k in
                         ("swap_from_mint", "swap_to_mint",
                          "swap_from_amount", "swap_to_amount",
                          "swap_description")}
            any_swap = False
            for ii, p in enumerate(jloc.tolist()):
                cands = [(c["source"], c["dest"], int(c["amount"]))
                         for c in (tsub[ii] or ())]
                payload = {k: field_vals[k][ii] for k in spec.j2_fields}
                swap = scan_swap_data(etype, payload, cands)
                if swap is not None:
                    any_swap = True
                    swap_cols["swap_from_mint"][p] = swap["from_mint"]
                    swap_cols["swap_to_mint"][p] = swap["to_mint"]
                    swap_cols["swap_from_amount"][p] = swap["from_amount"]
                    swap_cols["swap_to_amount"][p] = swap["to_amount"]
                    swap_cols["swap_description"][p] = swap["description"]
            if not any_swap:
                swap_cols = None

        cpi_ok = None
        if spec.cpi is not None:
            csub = col["cpi_candidates"].take(idx_pa)
            coffs, cvals = _list_view(csub)
            clens = np.diff(coffs)
            hasc = clens >= 1          # rows here have 0 or 1 candidates
            if hasc.any():
                first = np.where(hasc, coffs[:-1], 0)
                kind_arr = cvals.field("kind").take(
                    pa.array(first, pa.int64(), mask=~hasc))
                kind_ok = _np_col(pc.equal(kind_arr, spec.cpi.kind),
                                  fill=False).astype(bool)
                if spec.requires_cpi:
                    # F9 parity: the per-row path accepts ANY candidate
                    # that decodes under its OWN kind
                    # (decode.decode_cpi_with_f8 — event_parser.rs:441-448
                    # checks "a CPI decoded", not "the spec's CPI kind
                    # decoded"). A wrong-kind candidate is undecidable
                    # here (this spec only knows its own layout), so
                    # defer those rows to the per-row fallback instead
                    # of dropping them.
                    wrong_kind = hasc & ~kind_ok
                    if wrong_kind.any():
                        slow_parts.append(rows[wrong_kind])
                sel_positions = np.nonzero(kind_ok)[0]
                if sel_positions.size:
                    body = cvals.field("body").take(
                        pa.array(first[sel_positions], pa.int64()))
                    ok_mask, cpi_cols = _decode_cpi(
                        spec.cpi, body, sel_positions, rows.size)
                    _merge_cpi(g, ok_mask, cpi_cols,
                               merge_specs[etype][1])
                    cpi_ok = ok_mask

        if swap_cols is not None:
            for k, v in swap_cols.items():
                g[k] = ("pylist", v)

        if spec.requires_cpi:
            # F9 (event_parser.rs:441-448): keep only rows whose single
            # candidate DECODED; the no-candidate rows were dropped in
            # the validity mask above
            keep = (cpi_ok if cpi_ok is not None
                    else np.zeros(rows.size, bool))
            if not keep.all():
                rows, g = _filter_group(rows, g, keep)
                if rows.size == 0:
                    continue

        groups.append(Group(rows, etype, g))

    # --- everything else: per-row fallback -----------------------------
    slow_parts.append(np.nonzero(has_etype & (etype_idx == -1)
                                 & ~is_common)[0])
    slow_rows = (np.sort(np.concatenate(slow_parts))
                 if slow_parts else np.empty(0, np.int64))
    return groups, slow_rows


def assemble_output(batch: pa.RecordBatch, groups: list[Group],
                    out_schema: pa.Schema, passthrough: set[str]
                    ) -> pa.RecordBatch:
    """Stitch group outputs back into ONE RecordBatch in input-row order
    (matching the per-row path exactly)."""
    names = batch.schema.names
    groups = [g for g in groups if len(g)]
    if not groups:
        return pa.RecordBatch.from_arrays(
            [pa.nulls(0, f.type) for f in out_schema], schema=out_schema)
    all_src = np.concatenate([g.src for g in groups])
    order = np.argsort(all_src, kind="stable")
    order_pa = pa.array(order, pa.int64())
    src_pa = pa.array(all_src[order], pa.int64())

    touched: set[str] = set()
    for g in groups:
        touched.update(g.cols)

    arrays = []
    for field in out_schema:
        name = field.name
        if name in passthrough:
            arr = batch.column(names.index(name)).take(src_pa)
            if arr.type != field.type:
                arr = arr.cast(field.type)
        elif name == "event_type":
            arr = pa.concat_arrays(
                [g.etype_array() for g in groups]).take(order_pa)
        elif name in touched:
            arr = pa.concat_arrays(
                [g.to_arrow(name, field.type) for g in groups]
            ).take(order_pa)
        else:
            arr = pa.nulls(len(all_src), field.type)
        arrays.append(arr)
    return pa.RecordBatch.from_arrays(arrays, schema=out_schema)
