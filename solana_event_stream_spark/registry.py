"""Protocol registry: program ids, discriminators, event types, merge specs.

Pure metadata (no Spark) — the transcription of the reference's dispatch
surface (SURVEY.md §2.7). All byte values verified against:

- PumpFun:       /root/reference/src/streaming/event_parser/protocols/pumpfun/events.rs:354-376,
                 parser.rs:13-14
- PumpSwap:      .../pumpswap/events.rs:272-300, parser.rs:14-15
- Bonk:          .../bonk/events.rs:267-291, parser.rs:15-16
- Raydium CPMM:  .../raydium_cpmm/events.rs:142-153, parser.rs:13-14
- Raydium CLMM:  .../raydium_clmm/events.rs:251-266, parser.rs:18-19
- Raydium AMMv4: .../raydium_amm_v4/events.rs:169-180, parser.rs:12-13
- Meteora DAMMv2:.../meteora_damm_v2/events.rs:378-400, parser.rs:14-15
- ComputeBudget: .../core/common_event_parser.rs:11-12,59-78
- merge specs:   .../core/merger_event.rs:3-374
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Program ids (base58)
# ---------------------------------------------------------------------------

PUMPFUN_PROGRAM_ID = "6EF8rrecthR5Dkzon8Nwu78hRvfCKubJ14M5uBEwF6P"
PUMPSWAP_PROGRAM_ID = "pAMMBay6oceH9fJKBRHGP5D4bD4sWpmSwMn52FMfXEA"
BONK_PROGRAM_ID = "LanMV9sAd7wArD4vJFi2qDdfnVhFxYSUg6eADduJ3uj"
RAYDIUM_CPMM_PROGRAM_ID = "CPMMoo8L3F4NbTegBCKVNunggL7H1ZpdTHKxQB5qKP1C"
RAYDIUM_CLMM_PROGRAM_ID = "CAMMCzo5YL8w4VFF8KVHrK22GGUsp5VTaW7grrKgrWqK"
RAYDIUM_AMM_V4_PROGRAM_ID = "675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8"
METEORA_DAMM_V2_PROGRAM_ID = "cpamdpZCGKUy5JxQXB4dcpGPiikHawvSWAd6mEn1sGG"
COMPUTE_BUDGET_PROGRAM_ID = "ComputeBudget111111111111111111111111111111"

# base58 of 32 zero bytes == Pubkey::default() == system program id
ZERO_PUBKEY = "11111111111111111111111111111111"
# J3 event classes (core/event_parser.rs:674-693, 724-731): creates
# register dev addresses under their signature, trades of the SAME
# signature read them.
PUMPFUN_CREATES = ("PumpFunCreateToken", "PumpFunCreateV2Token")
PUMPFUN_TRADES = ("PumpFunBuy", "PumpFunSell")
BONK_CREATES = ("BonkInitialize", "BonkInitializeV2",
                "BonkInitializeWithToken2022")
BONK_TRADES = ("BonkBuyExactIn", "BonkBuyExactOut", "BonkSellExactIn",
               "BonkSellExactOut")
# solana_sdk::system_program::ID (yellowstone_sub_system.rs:44)
SYSTEM_PROGRAM_ID = "11111111111111111111111111111111"
SOL_MINT = "So11111111111111111111111111111111111111111"
# common/types.rs:361-366 — programs whose transfers J2 scans
SYSTEM_PROGRAMS = (
    "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA",   # SPL Token
    "TokenzQdBNbLqP5VEhdkAS6EPFLC1PHnBqCXEpPxuEb",   # Token-2022
    "11111111111111111111111111111111",              # System program
)

PROTOCOL_BY_PROGRAM_ID = {
    PUMPFUN_PROGRAM_ID: "PumpFun",
    PUMPSWAP_PROGRAM_ID: "PumpSwap",
    BONK_PROGRAM_ID: "Bonk",
    RAYDIUM_CPMM_PROGRAM_ID: "RaydiumCpmm",
    RAYDIUM_CLMM_PROGRAM_ID: "RaydiumClmm",
    RAYDIUM_AMM_V4_PROGRAM_ID: "RaydiumAmmV4",
    METEORA_DAMM_V2_PROGRAM_ID: "MeteoraDammV2",
}

PROGRAM_ID_BY_PROTOCOL = {v: k for k, v in PROTOCOL_BY_PROGRAM_ID.items()}

ALL_PROTOCOLS = tuple(PROGRAM_ID_BY_PROTOCOL)

# Discriminator length: 1 byte for AMM v4, 8 otherwise (event_parser.rs:326-329)
def disc_len_for(program_id: str) -> int:
    return 1 if program_id == RAYDIUM_AMM_V4_PROGRAM_ID else 8

INNER_DISC_LEN = 16  # event_parser.rs:399-404


def _hex(*ints: int) -> str:
    return bytes(ints).hex()


# ---------------------------------------------------------------------------
# Instruction discriminators: (protocol, disc_hex) -> event_type
# ---------------------------------------------------------------------------

INSTRUCTION_DISCRIMINATORS: dict[tuple[str, str], str] = {
    # PumpFun (pumpfun/events.rs:366-371)
    ("PumpFun", _hex(24, 30, 200, 40, 5, 28, 7, 119)): "PumpFunCreateToken",
    ("PumpFun", _hex(214, 144, 76, 236, 95, 139, 49, 180)): "PumpFunCreateV2Token",
    ("PumpFun", _hex(102, 6, 61, 18, 1, 218, 235, 234)): "PumpFunBuy",
    ("PumpFun", _hex(51, 230, 133, 164, 1, 127, 131, 173)): "PumpFunSell",
    ("PumpFun", _hex(155, 234, 231, 146, 236, 158, 162, 30)): "PumpFunMigrate",
    # PumpSwap (pumpswap/events.rs:290-295)
    ("PumpSwap", _hex(102, 6, 61, 18, 1, 218, 235, 234)): "PumpSwapBuy",
    ("PumpSwap", _hex(51, 230, 133, 164, 1, 127, 131, 173)): "PumpSwapSell",
    ("PumpSwap", _hex(233, 146, 209, 142, 207, 104, 64, 188)): "PumpSwapCreatePool",
    ("PumpSwap", _hex(242, 35, 198, 137, 82, 225, 242, 182)): "PumpSwapDeposit",
    ("PumpSwap", _hex(183, 18, 70, 156, 148, 109, 161, 34)): "PumpSwapWithdraw",
    # Bonk (bonk/events.rs:276-285)
    ("Bonk", _hex(250, 234, 13, 123, 213, 156, 19, 236)): "BonkBuyExactIn",
    ("Bonk", _hex(24, 211, 116, 40, 105, 3, 153, 56)): "BonkBuyExactOut",
    ("Bonk", _hex(149, 39, 222, 155, 211, 124, 152, 26)): "BonkSellExactIn",
    ("Bonk", _hex(95, 200, 71, 34, 8, 9, 11, 166)): "BonkSellExactOut",
    ("Bonk", _hex(175, 175, 109, 31, 13, 152, 155, 237)): "BonkInitialize",
    ("Bonk", _hex(67, 153, 175, 39, 218, 16, 38, 32)): "BonkInitializeV2",
    ("Bonk", _hex(37, 190, 126, 222, 44, 154, 171, 17)): "BonkInitializeWithToken2022",
    ("Bonk", _hex(207, 82, 192, 145, 254, 207, 145, 223)): "BonkMigrateToAmm",
    ("Bonk", _hex(136, 92, 200, 103, 28, 218, 144, 140)): "BonkMigrateToCpswap",
    # Raydium CPMM (raydium_cpmm/events.rs:144-148)
    ("RaydiumCpmm", _hex(143, 190, 90, 218, 196, 30, 51, 222)): "RaydiumCpmmSwapBaseInput",
    ("RaydiumCpmm", _hex(55, 217, 98, 86, 163, 74, 180, 173)): "RaydiumCpmmSwapBaseOutput",
    ("RaydiumCpmm", _hex(242, 35, 198, 137, 82, 225, 242, 182)): "RaydiumCpmmDeposit",
    ("RaydiumCpmm", _hex(175, 175, 109, 31, 13, 152, 155, 237)): "RaydiumCpmmInitialize",
    ("RaydiumCpmm", _hex(183, 18, 70, 156, 148, 109, 161, 34)): "RaydiumCpmmWithdraw",
    # Raydium CLMM (raydium_clmm/events.rs:253-260)
    ("RaydiumClmm", _hex(248, 198, 158, 145, 225, 117, 135, 200)): "RaydiumClmmSwap",
    ("RaydiumClmm", _hex(43, 4, 237, 11, 26, 201, 30, 98)): "RaydiumClmmSwapV2",
    ("RaydiumClmm", _hex(123, 134, 81, 0, 49, 68, 98, 98)): "RaydiumClmmClosePosition",
    ("RaydiumClmm", _hex(133, 29, 89, 223, 69, 238, 176, 10)): "RaydiumClmmIncreaseLiquidityV2",
    ("RaydiumClmm", _hex(58, 127, 188, 62, 79, 82, 196, 96)): "RaydiumClmmDecreaseLiquidityV2",
    ("RaydiumClmm", _hex(233, 146, 209, 142, 207, 104, 64, 188)): "RaydiumClmmCreatePool",
    ("RaydiumClmm", _hex(77, 255, 174, 82, 125, 29, 201, 46)): "RaydiumClmmOpenPositionWithToken22Nft",
    ("RaydiumClmm", _hex(77, 184, 74, 214, 112, 86, 241, 199)): "RaydiumClmmOpenPositionV2",
    # Raydium AMM V4 — 1-byte discriminators (raydium_amm_v4/events.rs:171-176)
    ("RaydiumAmmV4", _hex(9)): "RaydiumAmmV4SwapBaseIn",
    ("RaydiumAmmV4", _hex(11)): "RaydiumAmmV4SwapBaseOut",
    ("RaydiumAmmV4", _hex(3)): "RaydiumAmmV4Deposit",
    ("RaydiumAmmV4", _hex(1)): "RaydiumAmmV4Initialize2",
    ("RaydiumAmmV4", _hex(4)): "RaydiumAmmV4Withdraw",
    ("RaydiumAmmV4", _hex(7)): "RaydiumAmmV4WithdrawPnl",
    # Meteora DAMM v2 (meteora_damm_v2/events.rs:381-387)
    ("MeteoraDammV2", "f8c69e91e17587c8"): "MeteoraDammV2Swap",
    ("MeteoraDammV2", "414b3f4ceb5b5b88"): "MeteoraDammV2Swap2",
    ("MeteoraDammV2", "14a1f118bdddb402"): "MeteoraDammV2InitializeCustomizablePool",
    ("MeteoraDammV2", "5fb40aac54aee828"): "MeteoraDammV2InitializePool",
    ("MeteoraDammV2", "955248c5fdfc440f"): "MeteoraDammV2InitializePoolWithDynamicConfig",
}

# ---------------------------------------------------------------------------
# Inner (CPI log) discriminators: (protocol, disc_hex) -> cpi kind
# 16-byte discriminators; the Anchor event prefix e445a52e51cb9a1d + 8 bytes.
# ---------------------------------------------------------------------------

_ANCHOR = _hex(228, 69, 165, 46, 81, 203, 154, 29)

INNER_DISCRIMINATORS: dict[tuple[str, str], str] = {
    # PumpFun (pumpfun/events.rs:356-364)
    ("PumpFun", _ANCHOR + _hex(27, 114, 169, 77, 222, 235, 99, 118)): "pumpfun_create",
    ("PumpFun", _ANCHOR + _hex(189, 219, 127, 211, 78, 230, 97, 238)): "pumpfun_trade",
    ("PumpFun", _ANCHOR + _hex(189, 233, 93, 185, 92, 148, 234, 148)): "pumpfun_migrate",
    # PumpSwap (pumpswap/events.rs:274-288)
    ("PumpSwap", _ANCHOR + _hex(103, 244, 82, 31, 44, 245, 119, 119)): "pumpswap_buy",
    ("PumpSwap", _ANCHOR + _hex(62, 47, 55, 10, 165, 3, 220, 42)): "pumpswap_sell",
    ("PumpSwap", _ANCHOR + _hex(177, 49, 12, 210, 160, 118, 167, 116)): "pumpswap_create_pool",
    ("PumpSwap", _ANCHOR + _hex(120, 248, 61, 83, 31, 142, 107, 144)): "pumpswap_deposit",
    ("PumpSwap", _ANCHOR + _hex(22, 9, 133, 26, 160, 44, 71, 192)): "pumpswap_withdraw",
    # Bonk (bonk/events.rs:269-274) — trade disc equals PumpFun's; keyed by protocol
    ("Bonk", _ANCHOR + _hex(189, 219, 127, 211, 78, 230, 97, 238)): "bonk_trade",
    ("Bonk", _ANCHOR + _hex(151, 215, 226, 9, 118, 161, 115, 174)): "bonk_pool_create",
    # Meteora DAMM v2 (meteora_damm_v2/events.rs:392-399)
    ("MeteoraDammV2", _ANCHOR + "bd4233a826507599"): "meteora_swap",
    ("MeteoraDammV2", _ANCHOR + "e432f655cb428625"): "meteora_init_pool",
    # Raydium CPMM / CLMM / AMM v4 have no CPI events
    # (raydium_cpmm/parser.rs:42-48, raydium_clmm/parser.rs:56-62,
    #  raydium_amm_v4/parser.rs:44-50)
}

# ---------------------------------------------------------------------------
# Merge specs (J1): instruction event type -> (expected cpi kind, fields to
# overwrite from the CPI event). merger_event.rs:3-374.
# ---------------------------------------------------------------------------

_PUMPFUN_TRADE_MERGE = [
    "mint", "sol_amount", "token_amount", "is_buy", "user", "timestamp",
    "virtual_sol_reserves", "virtual_token_reserves", "real_sol_reserves",
    "real_token_reserves", "fee_recipient", "fee_basis_points", "fee",
    "creator", "creator_fee_basis_points", "creator_fee",
]
_PUMPFUN_CREATE_MERGE = [
    "mint", "bonding_curve", "user", "creator", "timestamp",
    "virtual_token_reserves", "virtual_sol_reserves", "real_token_reserves",
    "token_total_supply", "token_program", "is_mayhem_mode",
]
_BONK_TRADE_MERGE = [
    "pool_state", "total_base_sell", "virtual_base", "virtual_quote",
    "real_base_before", "real_quote_before", "real_base_after",
    "real_quote_after", "amount_in", "amount_out", "protocol_fee",
    "platform_fee", "creator_fee", "share_fee", "trade_direction",
    "pool_status", "exact_in",
]
_BONK_POOL_CREATE_MERGE = [
    "pool_state", "creator", "config", "base_mint_param_decimals",
    "base_mint_param_name", "base_mint_param_symbol", "base_mint_param_uri",
    "curve_type", "curve_supply", "curve_total_base_sell",
    "curve_total_quote_fund_raising", "curve_migrate_type",
    "vesting_total_locked_amount", "vesting_cliff_period",
    "vesting_unlock_period", "amm_fee_on",
]
_PUMPSWAP_BUY_MERGE = [
    "timestamp", "base_amount_out", "max_quote_amount_in",
    "user_base_token_reserves", "user_quote_token_reserves",
    "pool_base_token_reserves", "pool_quote_token_reserves",
    "quote_amount_in", "lp_fee_basis_points", "lp_fee",
    "protocol_fee_basis_points", "protocol_fee",
    "quote_amount_in_with_lp_fee", "user_quote_amount_in", "pool", "user",
    "user_base_token_account", "user_quote_token_account",
    "protocol_fee_recipient", "protocol_fee_recipient_token_account",
    "coin_creator", "coin_creator_fee_basis_points", "coin_creator_fee",
]
_PUMPSWAP_SELL_MERGE = [
    "timestamp", "base_amount_in", "min_quote_amount_out",
    "user_base_token_reserves", "user_quote_token_reserves",
    "pool_base_token_reserves", "pool_quote_token_reserves",
    "quote_amount_out", "lp_fee_basis_points", "lp_fee",
    "protocol_fee_basis_points", "protocol_fee",
    "quote_amount_out_without_lp_fee", "user_quote_amount_out", "pool",
    "user", "user_base_token_account", "user_quote_token_account",
    "protocol_fee_recipient", "protocol_fee_recipient_token_account",
    "coin_creator", "coin_creator_fee_basis_points", "coin_creator_fee",
]
_PUMPSWAP_CREATE_POOL_MERGE = [
    "timestamp", "index", "creator", "base_mint", "quote_mint",
    "base_mint_decimals", "quote_mint_decimals", "base_amount_in",
    "quote_amount_in", "pool_base_amount", "pool_quote_amount",
    "minimum_liquidity", "initial_liquidity", "lp_token_amount_out",
    "pool_bump", "pool", "lp_mint", "user_base_token_account",
    "user_quote_token_account", "coin_creator",
]
_PUMPSWAP_DEPOSIT_MERGE = [
    "timestamp", "lp_token_amount_out", "max_base_amount_in",
    "max_quote_amount_in", "user_base_token_reserves",
    "user_quote_token_reserves", "pool_base_token_reserves",
    "pool_quote_token_reserves", "base_amount_in", "quote_amount_in",
    "lp_mint_supply", "pool", "user", "user_base_token_account",
    "user_quote_token_account", "user_pool_token_account",
]
_PUMPSWAP_WITHDRAW_MERGE = [
    "timestamp", "lp_token_amount_in", "min_base_amount_out",
    "min_quote_amount_out", "user_base_token_reserves",
    "user_quote_token_reserves", "pool_base_token_reserves",
    "pool_quote_token_reserves", "base_amount_out", "quote_amount_out",
    "lp_mint_supply", "pool", "user", "user_base_token_account",
    "user_quote_token_account", "user_pool_token_account",
]
# NOTE: protocol_fee deliberately absent (merger_event.rs:241-264 omits it)
_METEORA_SWAP_MERGE = [
    "pool", "trade_direction", "collect_fee_mode", "has_referral",
    "amount_0", "amount_1", "swap_mode", "included_fee_input_amount",
    "excluded_fee_input_amount", "amount_left", "output_amount",
    "next_sqrt_price", "trading_fee", "partner_fee", "referral_fee",
    "included_transfer_fee_amount_in", "included_transfer_fee_amount_out",
    "excluded_transfer_fee_amount_out", "current_timestamp",
    "reserve_a_amount", "reserve_b_amount",
]
_METEORA_INIT_POOL_MERGE = [
    "pool", "token_a_mint", "token_b_mint", "creator", "payer",
    "alpha_vault",
    "base_fee_cliff_fee_numerator", "base_fee_first_factor",
    "base_fee_second_factor", "base_fee_third_factor", "base_fee_mode",
    "dynamic_fee_bin_step", "dynamic_fee_bin_step_u128",
    "dynamic_fee_filter_period", "dynamic_fee_decay_period",
    "dynamic_fee_reduction_factor", "dynamic_fee_max_volatility_accumulator",
    "dynamic_fee_variable_fee_control",
    "sqrt_min_price", "sqrt_max_price", "activation_type",
    "collect_fee_mode", "liquidity", "sqrt_price", "activation_point",
    "token_a_flag", "token_b_flag", "token_a_amount", "token_b_amount",
    "total_amount_a", "total_amount_b", "pool_type",
]

MERGE_SPECS: dict[str, tuple[str, list[str]]] = {
    "PumpFunBuy": ("pumpfun_trade", _PUMPFUN_TRADE_MERGE),
    "PumpFunSell": ("pumpfun_trade", _PUMPFUN_TRADE_MERGE),
    "PumpFunCreateToken": ("pumpfun_create", _PUMPFUN_CREATE_MERGE),
    "PumpFunCreateV2Token": ("pumpfun_create", _PUMPFUN_CREATE_MERGE),
    "PumpFunMigrate": ("pumpfun_migrate", [
        "user", "mint", "mint_amount", "sol_amount", "pool_migration_fee",
        "bonding_curve", "timestamp", "pool"]),
    "BonkBuyExactIn": ("bonk_trade", _BONK_TRADE_MERGE),
    "BonkBuyExactOut": ("bonk_trade", _BONK_TRADE_MERGE),
    "BonkSellExactIn": ("bonk_trade", _BONK_TRADE_MERGE),
    "BonkSellExactOut": ("bonk_trade", _BONK_TRADE_MERGE),
    "BonkInitialize": ("bonk_pool_create", _BONK_POOL_CREATE_MERGE),
    "BonkInitializeV2": ("bonk_pool_create", _BONK_POOL_CREATE_MERGE),
    "BonkInitializeWithToken2022": ("bonk_pool_create", _BONK_POOL_CREATE_MERGE),
    "BonkMigrateToAmm": ("bonk_trade_unused", [  # merger_event.rs:108-115
        "base_lot_size", "quote_lot_size", "market_vault_signer_nonce"]),
    "PumpSwapBuy": ("pumpswap_buy", _PUMPSWAP_BUY_MERGE),
    "PumpSwapSell": ("pumpswap_sell", _PUMPSWAP_SELL_MERGE),
    "PumpSwapCreatePool": ("pumpswap_create_pool", _PUMPSWAP_CREATE_POOL_MERGE),
    "PumpSwapDeposit": ("pumpswap_deposit", _PUMPSWAP_DEPOSIT_MERGE),
    "PumpSwapWithdraw": ("pumpswap_withdraw", _PUMPSWAP_WITHDRAW_MERGE),
    "MeteoraDammV2Swap": ("meteora_swap", _METEORA_SWAP_MERGE),
    "MeteoraDammV2Swap2": ("meteora_swap", _METEORA_SWAP_MERGE),
    "MeteoraDammV2InitializePool": ("meteora_init_pool", _METEORA_INIT_POOL_MERGE),
    "MeteoraDammV2InitializeCustomizablePool": ("meteora_init_pool", _METEORA_INIT_POOL_MERGE),
    "MeteoraDammV2InitializePoolWithDynamicConfig": ("meteora_init_pool", _METEORA_INIT_POOL_MERGE),
}
# BonkMigrateToAmm merges from a BonkMigrateToAmmEvent CPI — but Bonk has no
# such CPI discriminator, so the spec is unreachable (kept for parity with
# merger_event.rs:108-115).

# Event types whose CPI direction must agree with the instruction type (F8,
# bonk/parser.rs:115-133): Buy* requires trade_direction==0 (Buy),
# Sell* requires ==1 (Sell).
BONK_BUY_TYPES = ("BonkBuyExactIn", "BonkBuyExactOut")
BONK_SELL_TYPES = ("BonkSellExactIn", "BonkSellExactOut")

# PumpFun Migrate requires a CPI event, else dropped (F9,
# event_parser.rs:441-448).
REQUIRES_CPI = ("PumpFunMigrate",)
